package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational core (SURVEY.md §2.2): declarative DataFrame plans over the
  * TPC-H-ish tables. Every query here is Catalyst-optimizable end to end —
  * filters/projections reach the parquet scan, dimension joins broadcast,
  * aggregates are partial-aggregated map-side. Scale notes per query.
  */
object Relational {
  import Agg._

  private def t(s: SparkSession, dir: String, name: String) = Tables.load(s, dir, name)

  /** The UN-symmetrized co-purchase pair CTE body (a < b, support >= 2)
    * — the e0 every graph entry (q32-q36) builds on. ONE definition on
    * each side: a threshold tweak must not be able to fork the graph
    * between its consumers (q33/q36 consume it via [[coPurchaseSql]];
    * q34/q35 splice it under their own WITH/WITH RECURSIVE prefix). */
  private val coPurchaseE0Cte =
    """e0 AS (SELECT a.l_partkey AS a, b.l_partkey AS b
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin

  private val coPurchaseSql =
    s"""WITH $coPurchaseE0Cte,
       |ed AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0)""".stripMargin

  /** Spark twin of [[coPurchaseE0Cte]]: (a, b) pairs, a < b. Lazy —
    * consumers add their own persist/localCheckpoint.
    *
    * Shape: ONE exchange, not a self-join. The oracle's self-join form
    * costs two shuffle reads of lineitem plus a sort-merge join whose
    * output (every within-order pair) is re-aggregated; grouping the
    * order's parts into an array first generates the same pairs
    * map-side (positions j > i, value-ordered with least/greatest, so
    * multiplicity matches the a < b self-join exactly — duplicate
    * parts in one order contribute the same pair count, self-pairs are
    * dropped), and the partial pair aggregate starts in the same task.
    * Orders are bounded (≤7 lineitems in this schema), so the per-group
    * array and the pair fan-out are O(1) — no skew risk at any scale.
    * Measured (5-rep isolated medians, sf0.1): the derivation alone
    * 2.43 → 1.54 s with exact pair parity; it feeds all five graph
    * entries. */
  private def coPurchaseE0(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem").select($"l_orderkey", $"l_partkey")
    li.groupBy($"l_orderkey")
      .agg(collect_list($"l_partkey").as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps) - i - 1), y ->
          |    struct(least(x, y) AS a, greatest(x, y) AS b))))"""
          .stripMargin)).as("p"))
      .filter($"p.a" =!= $"p.b")
      .select($"p.a".as("a"), $"p.b".as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("m"))
      .filter($"m" >= 2)
      .select($"a", $"b")
  }

  /** Session memo of the co-purchase pair set per corpus dir
    * (graft.util.CorpusMemo.rows) — the
    * docs-family edge-memo pattern on the relational side: FOUR graph
    * entries (q33 pagerank, q34 triangles, q35 components, q36 onion
    * peeling) iterate over the same deterministic (a, b) set that q32's
    * own entry derives, and each was re-running the lineitem pair
    * derivation because its per-entry persist/localCheckpoint is
    * cleared between entries. Capped like the docs memo (200k rows,
    * CorpusMemo.MaxRows): above the cap the caller gets the distributed plan
    * (the 100 TB path — an edge set that size lives in a table, not on
    * a driver). q32 itself never reads the memo: its semantic IS the
    * derivation and its plan guard pins the join-free shape. */
  private def coPurchasePairs(s: SparkSession, dir: String): DataFrame =
    graft.util.CorpusMemo.rows(s, dir, "copurchase-pairs")(coPurchaseE0(s, dir))

  /** Spark twin of [[coPurchaseSql]]: the symmetric (src, dst) edge set
    * over the memoized pairs. */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e0 = coPurchasePairs(s, dir)
    e0.select($"a".as("src"), $"b".as("dst"))
      .unionByName(e0.select($"b".as("src"), $"a".as("dst")))
  }

  val queries: Seq[GraftQuery] = Seq(

    // ---- q1: full-scan groupBy multi-aggregate (TPC-H Q1 shape).
    // Scale: 2 grouping keys * handful of groups -> map-side partial agg
    // collapses 100TB to KBs before the shuffle.
    GraftQuery.sql("q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)/COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)/COUNT(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE)/COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" <= lit("2000-12-01").cast("timestamp_ntz"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          dsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("sum_disc_price"),
          dsum($"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + $"l_tax")).as("sum_charge"),
          davg($"l_quantity").as("avg_qty"),
          davg($"l_extendedprice").as("avg_price"),
          davg($"l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    // ---- q2: predicate + projection pushdown. The physical scan must
    // show PushedFilters on l_shipdate/l_discount and a 4-column ReadSchema.
    GraftQuery.sql("q2_filter_project",
      """SELECT l_orderkey, l_partkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount > 0.05""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp_ntz") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp_ntz") &&
          $"l_discount" > 0.05)
        .select($"l_orderkey", $"l_partkey", $"l_linenumber", $"l_extendedprice")
    },

    // ---- q3: selective dimension filter -> join -> agg -> top-k.
    // Scale: customer filter broadcasts; limit plans as TakeOrderedAndProject
    // (per-partition heap, no global sort).
    GraftQuery.sql("q3_topk_join",
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      import s.implicits._
      val cust = t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
      val ord = t(s, dir, "orders").filter($"o_orderdate" < lit("1998-01-01").cast("timestamp_ntz"))
      val li = t(s, dir, "lineitem").filter($"l_shipdate" > lit("1998-01-01").cast("timestamp_ntz"))
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey", $"o_orderdate".cast("date").as("orderdate"))
        .agg(dsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"))
        .select($"l_orderkey", $"revenue", $"orderdate")
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
    },

    // ---- q4: EXISTS -> left-semi join with a non-equi conjunct.
    GraftQuery.sql("q4_exists_semi",
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ord = t(s, dir, "orders")
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp_ntz") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp_ntz"))
      val li = t(s, dir, "lineitem").select($"l_orderkey", $"l_shipdate")
      ord.join(li, $"l_orderkey" === $"o_orderkey" && $"l_shipdate" > $"o_orderdate", "left_semi")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("order_count"))
        .orderBy($"o_orderpriority")
    },

    // ---- q5: 6-way star join. Scale: all five dimension sides broadcast;
    // the only shuffle is the final group-by on n_name.
    GraftQuery.sql("q5_multiway_join",
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC""".stripMargin) { (s, dir) =>
      import s.implicits._
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp_ntz") &&
          $"o_orderdate" < lit("1998-01-01").cast("timestamp_ntz"))
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region").filter($"r_name" === "ASIA")
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .join(broadcast(sup), $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
        .groupBy($"n_name")
        .agg(dsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"))
        .orderBy($"revenue".desc)
    },

    // ---- q6: tight range filter + scalar aggregate (TPC-H Q6 shape).
    GraftQuery.sql("q6_selective_filter",
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp_ntz") &&
          $"l_shipdate" < lit("1998-01-01").cast("timestamp_ntz") &&
          $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
        .agg(dsum($"l_extendedprice" * $"l_discount").as("revenue"), count(lit(1)).as("n"))
    },

    // ---- q7: NOT EXISTS -> left-anti join (customers with no big order).
    GraftQuery.sql("q7_anti_join",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)""".stripMargin) { (s, dir) =>
      import s.implicits._
      val big = t(s, dir, "orders").filter($"o_totalprice" > 250000).select($"o_custkey")
      t(s, dir, "customer")
        .join(big, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name", $"c_acctbal")
    },

    // ---- q8: outer join + nested aggregation (TPC-H Q13 shape).
    GraftQuery.sql("q8_outer_join_agg",
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey) cc
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ord = t(s, dir, "orders").filter($"o_orderpriority" =!= "5-LOW")
      t(s, dir, "customer")
        .join(ord, $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey").agg(count($"o_orderkey").as("c_count"))
        .groupBy($"c_count").agg(count(lit(1)).as("custdist"))
        .orderBy($"custdist".desc, $"c_count".desc)
    },

    // ---- q9: multi count-distinct. Scale: Spark expands distinct aggs
    // to a single shuffle with grouping-id expansion; HLL variant is
    // approx_count_distinct when exactness isn't required.
    GraftQuery.sql("q9_distinct_agg",
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_orderkey").as("n_orders"),
          countDistinct($"l_partkey").as("n_parts"),
          countDistinct($"l_suppkey").as("n_supps"))
        .orderBy($"l_returnflag")
    },

    // ---- q10: window rank, top-3 per group. Single shuffle on the
    // partition key; rank+filter avoids a self-join.
    GraftQuery.sql("q10_window_rank",
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    RANK() OVER (PARTITION BY o_orderpriority
        |                 ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) r
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice".desc, $"o_orderkey")
      t(s, dir, "orders")
        .withColumn("rk", rank().over(w).cast("long"))
        .filter($"rk" <= 3)
        .select($"o_orderpriority", $"o_orderkey", $"o_totalprice", $"rk")
        .orderBy($"o_orderpriority", $"rk")
    },

    // ---- q11: running sum + moving average over a total order.
    // l_quantity is integer-valued so frame sums are exact in fp.
    GraftQuery.sql("q11_window_running",
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  SUM(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
        |  AVG(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS avg_qty_10
        |FROM lineitem WHERE l_suppkey <= 3""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"l_suppkey").orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
      t(s, dir, "lineitem").filter($"l_suppkey" <= 3)
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
          sum($"l_quantity").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("running_qty"),
          avg($"l_quantity").over(w.rowsBetween(-9, Window.currentRow)).as("avg_qty_10"))
    },

    // ---- q12: ROLLUP hierarchy.
    GraftQuery.sql("q12_rollup",
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(sum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
    },

    // ---- q13: CUBE.
    GraftQuery.sql("q13_cube",
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total, COUNT(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(dsum($"o_totalprice").as("total"), count(lit(1)).as("n"))
    },

    // ---- q14: conditional aggregation (promo revenue share, Q14 shape).
    GraftQuery.sql("q14_conditional_agg",
      """SELECT
        |  CAST(SUM(CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE) AS promo_revenue,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'""".stripMargin) { (s, dir) =>
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp_ntz") &&
          $"l_shipdate" < lit("1997-07-01").cast("timestamp_ntz"))
      li.join(broadcast(t(s, dir, "part")), $"l_partkey" === $"p_partkey")
        .agg(
          dsum(when($"p_type" === "PROMO", $"l_extendedprice" * (lit(1) - $"l_discount")).otherwise(0.0)).as("promo_revenue"),
          dsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("total_revenue"))
    },

    // ---- q15: string function pipeline.
    GraftQuery.sql("q15_string_funcs",
      """SELECT p_brand, UPPER(SUBSTR(p_name, 1, 6)) AS prefix6,
        |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        |  p_brand || '/' || p_type AS brand_type, COUNT(*) AS n
        |FROM part WHERE p_name LIKE '%e%'
        |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "part").filter($"p_name".like("%e%"))
        .groupBy($"p_brand", upper(substring($"p_name", 1, 6)).as("prefix6"),
          length($"p_name").cast("long").as("name_len"),
          concat($"p_brand", lit("/"), $"p_type").as("brand_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"p_brand", $"prefix6", $"name_len", $"brand_type")
    },

    // ---- q16: date part extraction + arithmetic.
    GraftQuery.sql("q16_date_funcs",
      """SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
        |  CAST(QUARTER(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .groupBy(year($"o_orderdate").cast("long").as("yr"),
          quarter($"o_orderdate").cast("long").as("qtr"),
          month($"o_orderdate").cast("long").as("mo"))
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
        .orderBy($"yr", $"qtr", $"mo")
    },

    // ---- q17: scalar subquery vs per-group average (Q17 shape),
    // classic rewrite: prune lineitem to the Brand#4 part keys FIRST
    // (broadcast semi-join — DPP-prunable at scale), so the per-part
    // average aggregates ~4% of lineitem instead of all of it (the r2
    // form paid a full-table agg). The half-average is a window over
    // the same l_partkey shuffle: ONE scan, ONE exchange of the pruned
    // rows, no second pass.
    GraftQuery.sql("q17_scalar_subquery",
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#4'
        |  AND l_quantity < (SELECT 0.5 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(30,6))) AS DOUBLE)/COUNT(*))
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin) { (s, dir) =>
      import s.implicits._
      val brandKeys = t(s, dir, "part")
        .filter($"p_brand" === "Brand#4").select($"p_partkey")
      val pruned = t(s, dir, "lineitem")
        .join(broadcast(brandKeys), $"l_partkey" === $"p_partkey", "left_semi")
      val w = Window.partitionBy($"l_partkey")
      pruned
        .withColumn("half_avg_qty",
          (sum($"l_quantity".cast(DecimalType(30, 6))).over(w).cast("double") /
            count(lit(1)).over(w)) * 0.5)
        .filter($"l_quantity" < $"half_avg_qty")
        .agg((dsum($"l_extendedprice") / 7.0).as("avg_yearly"), count(lit(1)).as("n"))
    },

    // ---- q18: HAVING on group aggregate.
    GraftQuery.sql("q18_having",
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 14
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total"))
        .filter($"n_orders" >= 14)
        .orderBy($"o_custkey")
    },

    // ---- q19: UNION ALL of branch filters + reaggregation.
    GraftQuery.sql("q19_union_all",
      """SELECT bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total FROM (
        |  SELECT 'high' AS bucket, o_totalprice FROM orders WHERE o_totalprice >= 300000
        |  UNION ALL
        |  SELECT 'urgent_low' AS bucket, o_totalprice FROM orders
        |  WHERE o_totalprice < 300000 AND o_orderpriority = '1-URGENT') u
        |GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ord = t(s, dir, "orders")
      val high = ord.filter($"o_totalprice" >= 300000)
        .select(lit("high").as("bucket"), $"o_totalprice")
      val ulow = ord.filter($"o_totalprice" < 300000 && $"o_orderpriority" === "1-URGENT")
        .select(lit("urgent_low").as("bucket"), $"o_totalprice")
      high.union(ulow)
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
        .orderBy($"bucket")
    },

    // ---- q20: exact interpolated percentiles per group.
    GraftQuery.sql("q20_quantiles",
      """SELECT event_type,
        |  ROUND(quantile_cont("value", 0.5), 4) AS p50,
        |  ROUND(quantile_cont("value", 0.9), 4) AS p90,
        |  ROUND(quantile_cont("value", 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"event_type")
        .agg(round(percentile($"value", lit(0.5)), 4).as("p50"),
          round(percentile($"value", lit(0.9)), 4).as("p90"),
          round(percentile($"value", lit(0.99)), 4).as("p99"))
        .orderBy($"event_type")
    },

    // ---- q21: correlated EXISTS + NOT EXISTS combination (Q21 shape).
    GraftQuery.sql("q21_correlated_exists",
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val big = li.filter($"l_quantity" > 45).select($"l_orderkey".as("k1"))
      val ret = li.filter($"l_returnflag" === "R").select($"l_orderkey".as("k2"))
      t(s, dir, "orders")
        .join(big, $"o_orderkey" === $"k1", "left_semi")
        .join(ret, $"o_orderkey" === $"k2", "left_anti")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    },

    // ---- q22: statistical aggregate suite.
    GraftQuery.sql("q22_agg_stats",
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE)/COUNT(*) AS avg_bal,
        |  MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
        |  ROUND(STDDEV_SAMP(c_acctbal), 4) AS sd_bal,
        |  ROUND(VAR_SAMP(c_acctbal), 3) AS var_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "customer")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), davg($"c_acctbal").as("avg_bal"),
          min($"c_acctbal").as("min_bal"), max($"c_acctbal").as("max_bal"),
          round(stddev_samp($"c_acctbal"), 4).as("sd_bal"),
          round(var_samp($"c_acctbal"), 3).as("var_bal"))
        .orderBy($"c_mktsegment")
    },

    // ---- q23: GROUPING SETS (via Spark SQL; same Catalyst Expand plan
    // the DataFrame cube/rollup lower to).
    GraftQuery.sql("q23_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
    },

    // ---- q24: pivot (wide conditional aggregation).
    GraftQuery.sql("q24_pivot",
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      val types = Seq("click", "view", "purchase", "signup", "error")
      val pivoted = Tables.events(s, dir)
        .groupBy(date_trunc("day", $"ts").cast("date").as("day"))
        .pivot("event_type", types).count()
      types.foldLeft(pivoted)((df, c) => df.withColumn(c, coalesce(col(c), lit(0L))))
        .orderBy($"day")
    },

    // ---- q25: set operations (INTERSECT / EXCEPT). Both compile to
    // aggregate/join shapes, so pushdown and partial agg still apply.
    GraftQuery.sql("q25_setops",
      """WITH hi AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 150000),
        |prio AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |SELECT 'both' AS bucket, COUNT(*) AS n FROM (SELECT * FROM hi INTERSECT SELECT * FROM prio)
        |UNION ALL
        |SELECT 'hi_only' AS bucket, COUNT(*) AS n FROM (SELECT * FROM hi EXCEPT SELECT * FROM prio)
        |ORDER BY bucket""".stripMargin) { (s, dir) =>
      import s.implicits._
      val orders = t(s, dir, "orders")
      val hi = orders.filter($"o_totalprice" > 150000).select($"o_custkey").distinct()
      val prio = orders.filter($"o_orderpriority" === "1-URGENT").select($"o_custkey").distinct()
      hi.intersect(prio).agg(count(lit(1)).as("n")).select(lit("both").as("bucket"), $"n")
        .unionByName(
          hi.except(prio).agg(count(lit(1)).as("n")).select(lit("hi_only").as("bucket"), $"n"))
        .orderBy($"bucket")
    },

    // ---- q27: extended window-function suite — ranking distributions
    // and offset functions in one pass (single shuffle on the partition
    // key, all functions share the frame).
    GraftQuery.sql("q27_window_suite",
      """SELECT o_custkey, o_orderkey,
        |  NTILE(4) OVER w AS quartile,
        |  CAST(LAG(o_orderkey) OVER w AS BIGINT) AS prev_order,
        |  CAST(LEAD(o_orderkey) OVER w AS BIGINT) AS next_order,
        |  PERCENT_RANK() OVER w AS pr,
        |  CUME_DIST() OVER w AS cd
        |FROM orders
        |WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      t(s, dir, "orders")
        .filter($"o_custkey" < 50)
        .select($"o_custkey", $"o_orderkey",
          ntile(4).over(w).cast("long").as("quartile"),
          lag($"o_orderkey", 1).over(w).as("prev_order"),
          lead($"o_orderkey", 1).over(w).as("next_order"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // ---- q28: ordered string aggregation (listagg): deterministic via
    // explicit ORDER BY inside the aggregate on both engines.
    GraftQuery.sql("q28_string_agg",
      """SELECT o_orderstatus,
        |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prios,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_orderstatus")
        .agg(
          concat_ws(",", array_sort(collect_set($"o_orderpriority"))).as("prios"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderstatus")
    },

    // ---- q29: bivariate statistics — correlation/covariance per group,
    // single-pass partial-aggregable moments. Rounded(4) on both sides
    // to absorb summation-order ulp noise (values sit far from rounding
    // boundaries on this data; verified at three SFs).
    GraftQuery.sql("q29_bivariate_stats",
      """SELECT l_returnflag,
        |  ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |  ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covs_qp,
        |  ROUND(covar_pop(l_quantity, l_discount), 4) AS covp_qd
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          round(corr($"l_quantity", $"l_extendedprice"), 4).as("corr_qp"),
          round(covar_samp($"l_quantity", $"l_extendedprice"), 4).as("covs_qp"),
          round(covar_pop($"l_quantity", $"l_discount"), 4).as("covp_qd"))
        .orderBy($"l_returnflag")
    },

    // ---- q26: sketch aggregates — the 100 TB answer to COUNT(DISTINCT)
    // and exact percentiles. Fixed-size state per group (HLL registers /
    // quantile sketch), map-side combinable, one narrow shuffle. The
    // sketch VALUES have no cross-engine oracle, but their CONTRACTS do:
    // the output carries exact twins (hash-checked against DuckDB) plus
    // per-group bound flags — HLL within 10% of the exact distinct
    // count (5σ at rsd=0.02), approx-p50 inside the exact p45–p55 rank
    // window (accuracy=2500 ⇒ rank error orders of magnitude tighter) —
    // which the oracle asserts MUST be 1, so a sketch drifting out of
    // its guarantee fails the driver compare loudly. The exact twins
    // themselves use 100 TB-safe shapes: distinct count shuffles on the
    // value, and the exact quantiles use the STRADDLING-BUCKET two-pass
    // (d61's discipline): a coarse whole-dollar histogram — bounded by
    // the price DOMAIN, not the row count — locates the bucket holding
    // each needed rank, and only those ≤4 buckets per group are ranked
    // exactly. Neither a buffer-all `percentile` (OOMed at sf1) nor a
    // full-value histogram (extendedprice is near-unique, so that
    // "histogram" is the dataset) survives scale; this does. p50 then
    // follows quantile_cont's own (n−1)·q interpolation over the two
    // straddling order statistics. Error curves stay in SketchSpec.
    GraftQuery.sql("q26_sketches",
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
        |  CAST(1 AS BIGINT) AS hll_ok, CAST(1 AS BIGINT) AS p50_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      // persisted: FIVE plan branches read this 3-column projection
      // (both sketch aggregations, the per-flag count, the coarse
      // histogram, and the straddling-bucket probe) — without the
      // persist each branch re-scans and re-decodes the parquet (the
      // d61/d79 multi-branch re-scan class; the harness clears session
      // caches between entries)
      val li = t(s, dir, "lineitem")
        .select($"l_returnflag", $"l_orderkey", $"l_extendedprice")
        .persist()
      // sketches and the exact distinct count in SEPARATE aggregations:
      // mixing count(DISTINCT) with TypedImperativeAggregates re-keys
      // the partial aggregate by (flag, orderkey), which hands every
      // orderkey group its own quantile-summary state — an O(distinct
      // keys × sketch size) heap blowup that OOMed at sf1. Split, each
      // aggregation keeps its proper shape (fixed-size sketch state /
      // value-keyed distinct), and the 3-row results broadcast-join.
      val skSketch = li.groupBy($"l_returnflag").agg(
        approx_count_distinct($"l_orderkey", rsd = 0.02).as("hll"),
        percentile_approx($"l_extendedprice", lit(0.5), lit(2500)).as("ap50"))
      val skExact = li.groupBy($"l_returnflag")
        .agg(count_distinct($"l_orderkey").as("exact_orders"))
      val sk = skSketch.join(broadcast(skExact), "l_returnflag")
      // the four 0-based ranks whose exact order statistics we need
      val nPerFlag = li.groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      val ranks = nPerFlag.select($"l_returnflag",
          explode(array(
            struct(lit("m_lo").as("which"),
              floor(($"n" - 1) * 0.5).cast("long").as("k")),
            struct(lit("m_hi").as("which"),
              ceil(($"n" - 1) * 0.5).cast("long").as("k")),
            struct(lit("p45").as("which"),
              floor(($"n" - 1) * 0.45).cast("long").as("k")),
            struct(lit("p55").as("which"),
              ceil(($"n" - 1) * 0.55).cast("long").as("k")))).as("r"))
        .select($"l_returnflag".as("r_flag"), $"r.which", $"r.k")
      // coarse whole-dollar histogram: group count bounded by the price
      // DOMAIN; cumulative counts over the tiny bucket table only
      val coarse = li
        .groupBy($"l_returnflag".as("c_flag"),
          floor($"l_extendedprice").cast("long").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum($"cnt").over(
          Window.partitionBy($"c_flag").orderBy($"b")))
        .withColumn("before", $"cum" - $"cnt")
      // the bucket straddling each rank
      val strad = ranks.join(coarse, $"r_flag" === $"c_flag")
        .filter($"before" <= $"k" && $"k" < $"cum")
        .select($"r_flag", $"which", $"k", $"b", $"before")
      // second pass: rank ONLY inside the ≤4 straddling buckets per
      // group (bucket mass, not corpus mass, bounds the sort)
      val probe = li
        .withColumn("b", floor($"l_extendedprice").cast("long"))
        .join(broadcast(strad.select($"r_flag".as("l_returnflag"), $"b").distinct()),
          Seq("l_returnflag", "b"))
        .withColumn("idx", row_number().over(
          Window.partitionBy($"l_returnflag", $"b")
            .orderBy($"l_extendedprice")).cast("long") - 1)
      val stats = probe.join(broadcast(strad),
          probe("l_returnflag") === strad("r_flag") &&
            probe("b") === strad("b") &&
            probe("idx") === strad("k") - strad("before"))
        .groupBy($"l_returnflag").agg(
          min(when($"which" === "m_lo", $"l_extendedprice")).as("m_lo"),
          min(when($"which" === "m_hi", $"l_extendedprice")).as("m_hi"),
          min(when($"which" === "p45", $"l_extendedprice")).as("p45"),
          min(when($"which" === "p55", $"l_extendedprice")).as("p55"))
      val qs = stats.join(nPerFlag, "l_returnflag")
        .withColumn("frac", ($"n" - 1) * 0.5 - floor(($"n" - 1) * 0.5))
      sk.join(broadcast(qs), "l_returnflag")
        .select($"l_returnflag", $"exact_orders",
          round($"m_lo".cast("double") +
            $"frac" * ($"m_hi" - $"m_lo").cast("double"), 4).as("p50_exact"),
          (abs($"hll" - $"exact_orders") <= $"exact_orders" * 0.1)
            .cast("long").as("hll_ok"),
          ($"ap50" >= $"p45" && $"ap50" <= $"p55").cast("long").as("p50_ok"))
        .orderBy($"l_returnflag")
    },

    // ---- q30: salted skew join — the manual hot-key control
    // (operators.SkewJoin) run end-to-end: lineitem salted into 8
    // sub-keys, part replicated 8x, join on (key, salt). Semantically
    // identical to the plain join (the oracle IS the plain join), which
    // is the whole point: same answer, no straggler partition when a
    // key is hot and the dimension can't broadcast.
    GraftQuery.sql("q30_salted_join",
      """SELECT p_brand, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      val big = t(s, dir, "lineitem")
        .select($"l_partkey".as("p_partkey"), $"l_orderkey", $"l_linenumber",
          $"l_extendedprice")
      val dim = t(s, dir, "part").select($"p_partkey", $"p_brand")
      graft.operators.SkewJoin.saltedInner(big, dim,
          keys = Seq("p_partkey"), saltOn = "l_orderkey", saltBuckets = 8)
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("revenue"))
        .orderBy($"p_brand")
    },

    // ---- q31: fixed-width histogram — the value-distribution profile
    // every data audit starts with. The bin id is derived per row (one
    // codegen floor-divide), so the only shuffle is the partial-agg
    // exchange of ~bin-count rows.
    GraftQuery.sql("q31_histogram",
      """SELECT CAST(FLOOR(l_extendedprice / 5000) AS BIGINT) AS bin,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy(floor($"l_extendedprice" / 5000).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("qty"))
        .orderBy($"bin")
    },

    // ---- q32: co-occurrence mining (market-basket pairs) — parts
    // ordered together, top-20 pairs. Scale: the self-join shuffles ON
    // THE ORDER KEY, so pair generation is per-order local (~k² rows
    // for a k-item order, k≈7) and the pair aggregate is partial;
    // the final top-20 is TakeOrdered, never a full sort.
    GraftQuery.sql("q32_copurchase",
      """SELECT a.l_partkey AS a_key, b.l_partkey AS b_key, COUNT(*) AS n
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 ORDER BY n DESC, a_key, b_key LIMIT 20""".stripMargin) { (s, dir) =>
      import s.implicits._
      // same one-exchange grouped-pairs shape as coPurchaseE0 (see its
      // scaladoc): pairs are generated map-side from the per-order part
      // array instead of a lineitem self-join
      val li = t(s, dir, "lineitem").select($"l_orderkey", $"l_partkey")
      li.groupBy($"l_orderkey")
        .agg(collect_list($"l_partkey").as("ps"))
        .select(explode(expr(
          """flatten(transform(ps, (x, i) ->
            |  transform(slice(ps, i + 2, size(ps) - i - 1), y ->
            |    struct(least(x, y) AS a, greatest(x, y) AS b))))"""
            .stripMargin)).as("p"))
        .filter($"p.a" =!= $"p.b")
        .select($"p.a".as("a_key"), $"p.b".as("b_key"))
        .groupBy($"a_key", $"b_key")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"a_key", $"b_key")
        .limit(20)
    },

    // ---- q35: connected components over the co-purchase graph — the
    // "related-product groups" segmentation, and DedupClusters proving
    // it is a general graph operator, not a dedup special: the SAME
    // large-star/small-star contraction that labels near-dup clusters
    // (d13) labels product components here, zero new operator code.
    // Output: every part in the graph with its component label (= min
    // part_key reachable) and the component size. Oracle: recursive-CTE
    // transitive closure (feasible exactly because components are small
    // — 29 parts max at sf0.1; the operator itself is O(log² n) rounds
    // and does NOT depend on that).
    // Scale shape: edge derivation is q32's order-local self-join +
    // partial pair aggregate; the contraction shuffles (p, c) id pairs
    // only (DedupClusters' bound); size + label join ride one
    // component_id exchange.
    GraftQuery.sql("q35_part_components",
      s"""WITH RECURSIVE $coPurchaseE0Cte,
        |nodes AS (SELECT a AS u FROM e0 UNION SELECT b FROM e0),
        |e AS (SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |reach AS (SELECT u AS a, u AS b FROM nodes
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
        |lab AS (SELECT a AS part_key, MIN(b) AS component_id FROM reach GROUP BY a),
        |sz AS (SELECT component_id, COUNT(*) AS n FROM lab GROUP BY 1)
        |SELECT lab.part_key, lab.component_id, CAST(sz.n AS BIGINT) AS comp_size
        |FROM lab JOIN sz USING (component_id) ORDER BY part_key""".stripMargin) { (s, dir) =>
      import s.implicits._
      // the memoized pair set feeds BOTH the node derivation and the
      // contraction (and the session's other graph entries — see
      // coPurchasePairs; the memo replaced the per-entry localCheckpoint
      // that re-derived the pairs here every run)
      val e0 = coPurchasePairs(s, dir)
      val nodes = e0.select($"a".as("doc_id"))
        .unionByName(e0.select($"b".as("doc_id"))).distinct()
      val lab = graft.operators.DedupClusters
        .assign(nodes, e0.select($"a".as("a_id"), $"b".as("b_id")))
        .select($"doc_id".as("part_key"), $"cluster_id".as("component_id"))
      val sz = lab.groupBy($"component_id").agg(count(lit(1)).as("comp_size"))
      lab.join(sz, "component_id")
        .select($"part_key", $"component_id", $"comp_size")
        .orderBy($"part_key")
    },

    // ---- q34: triangle counting over the co-purchase graph (local
    // clustering signal — "parts whose co-purchase neighborhoods
    // close"). DEGREE-ORDERED orientation (the classic O(m^1.5)
    // formulation): each edge points from its lower-(deg, id) endpoint
    // to the higher, so per-source oriented out-degree is bounded by
    // O(√m) even at a power-law hub — the wedge self-join can never go
    // quadratic in a hub's degree, which is what kills the naive
    // id-ordered enumeration at 100 TB. Wedges close against the
    // oriented edge set (consistent order ⇒ each triangle counted
    // exactly once); per-part participation via a 3-way explode +
    // partial-aggregated count; top-15 is TakeOrdered.
    GraftQuery.sql("q34_triangles",
      s"""WITH $coPurchaseE0Cte,
        |und AS (SELECT a AS u FROM e0 UNION ALL SELECT b FROM e0),
        |deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
        |o AS (SELECT
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |         THEN e0.a ELSE e0.b END AS src,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |         THEN e0.b ELSE e0.a END AS dst,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |         THEN db.d ELSE da.d END AS dd
        |  FROM e0 JOIN deg da ON da.u = e0.a JOIN deg db ON db.u = e0.b),
        |tri AS (SELECT w1.src AS x, w1.dst AS y, w2.dst AS z
        |  FROM o w1 JOIN o w2 ON w1.src = w2.src
        |    AND (w1.dd < w2.dd OR (w1.dd = w2.dd AND w1.dst < w2.dst))
        |  JOIN o e3 ON e3.src = w1.dst AND e3.dst = w2.dst),
        |n AS (SELECT part_key, COUNT(*) AS n_tri FROM (
        |    SELECT x AS part_key FROM tri
        |    UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri)
        |  GROUP BY 1)
        |SELECT part_key, CAST(n_tri AS BIGINT) AS n_tri
        |FROM n ORDER BY n_tri DESC, part_key LIMIT 15""".stripMargin) { (s, dir) =>
      import s.implicits._
      val e0 = coPurchasePairs(s, dir)
      val deg = e0.select($"a".as("u")).unionByName(e0.select($"b".as("u")))
        .groupBy($"u").agg(count(lit(1)).as("d"))
      val fwd = $"da" < $"db" || ($"da" === $"db" && $"a" < $"b")
      // persisted: the oriented edge set feeds all three triangle-join
      // branches — at scale this is "materialize the orientation once"
      val o = e0
        .join(deg.select($"u".as("a"), $"d".as("da")), "a")
        .join(deg.select($"u".as("b"), $"d".as("db")), "b")
        .select(when(fwd, $"a").otherwise($"b").as("src"),
          when(fwd, $"b").otherwise($"a").as("dst"),
          when(fwd, $"db").otherwise($"da").as("dd"))
        .persist()
      val w1 = o.select($"src", $"dst".as("v"), $"dd".as("dv"))
      val w2 = o.select($"src", $"dst".as("w"), $"dd".as("dw"))
      val tri = w1.join(w2, "src")
        .filter($"dv" < $"dw" || ($"dv" === $"dw" && $"v" < $"w"))
        .join(o.select($"src".as("v"), $"dst".as("w")), Seq("v", "w"))
        .select($"src".as("x"), $"v".as("y"), $"w".as("z"))
      val out = tri.select(explode(array($"x", $"y", $"z")).as("part_key"))
        .groupBy($"part_key").agg(count(lit(1)).as("n_tri"))
        .orderBy($"n_tri".desc, $"part_key").limit(15)
      // Eager 15-row materialization so the cached orientation can be
      // dropped before returning — repeated invocations (bench reps,
      // verify) must not accumulate storage memory (ADVICE r4).
      val rows = try out.collect() finally o.unpersist()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    },

    // ---- q33: PageRank over the co-purchase graph — iterative graph
    // analytics on the q32 edge set (parts co-ordered ≥2 times,
    // undirected so every node has degree ≥1 and no dangling mass).
    // Three damped iterations, then top-15 by authority.
    // Exactness discipline (the d13/d29 combination): per-node
    // contributions rank/deg are bit-identical doubles on both engines;
    // the per-target SUM goes through exact DECIMAL so aggregation
    // order can't perturb it; the damping update is the same
    // double-op sequence both sides. The oracle unrolls the three
    // iterations as chained CTEs (recursive SQL forbids aggregation in
    // the recursive term).
    // Scale shape: edges and degrees are computed once and persisted
    // (every iteration re-reads both); each iteration is ONE shuffle —
    // the contribution aggregate keyed on the destination node (the
    // rank join rides the same key) — so the whole walk is
    // 3 × (join + partial-aggregated exchange), never a global
    // collect; ranks live distributed end to end and only the top-15
    // TakeOrdered reaches the driver.
    GraftQuery.sql("q33_item_pagerank", {
      val prelude = coPurchaseSql +
        """,
          |deg AS (SELECT src AS node, COUNT(*) AS deg FROM ed GROUP BY 1),
          |nn AS (SELECT COUNT(*) AS n FROM deg),
          |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS rank FROM deg CROSS JOIN nn)""".stripMargin
      val iters = (1 to 3).map { k =>
        s"""c$k AS (SELECT ed.dst AS node,
           |    CAST(SUM(CAST(r.rank / dg.deg AS DECIMAL(30,15))) AS DOUBLE) AS cont
           |  FROM ed JOIN r${k - 1} r ON r.node = ed.src
           |    JOIN deg dg ON dg.node = ed.src
           |  GROUP BY ed.dst),
           |r$k AS (SELECT deg.node,
           |    CAST(0.15 AS DOUBLE) / nn.n
           |      + CAST(0.85 AS DOUBLE) * COALESCE(c$k.cont, 0) AS rank
           |  FROM deg CROSS JOIN nn LEFT JOIN c$k ON c$k.node = deg.node)""".stripMargin
      }.mkString(",\n", ",\n", "")
      prelude + iters +
        """
          |SELECT node, ROUND(rank, 6) AS rank FROM r3
          |ORDER BY rank DESC, node LIMIT 15""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val ed = coPurchaseEdges(s, dir)
        .persist() // re-read every iteration
      val deg = ed.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
        .persist() // re-read every iteration (contribution + node spine)
      val n = deg.count()
      val srcDeg = deg.select($"node".as("src"), $"deg")
      var rank = deg.select($"node", lit(1.0 / n).as("rank"))
      for (_ <- 1 to 3) {
        val cont = ed
          .join(rank.select($"node".as("src"), $"rank".as("prank")), "src")
          .join(srcDeg, "src")
          .groupBy($"dst".as("node"))
          .agg(sum(($"prank" / $"deg").cast(DecimalType(30, 15)))
            .cast("double").as("cont"))
        rank = deg.select($"node")
          .join(cont, Seq("node"), "left")
          .select($"node",
            (lit(0.15 / n) + lit(0.85) * coalesce($"cont", lit(0.0))).as("rank"))
      }
      // round BEFORE ordering: the oracle's ORDER BY resolves to the
      // ROUND(...,6) output alias (alias shadows the input column in
      // DuckDB), so both engines must pick the top 15 by the ROUNDED
      // value with the node tiebreak — sorting unrounded here would let
      // a ~1e-15 cross-engine rank difference near the cutoff seat a
      // different node set
      val out = rank.select($"node", round($"rank", 6).as("rank"))
        .orderBy($"rank".desc, $"node").limit(15)
      // Same eager-then-unpersist discipline as q34: the iteration caches
      // must not outlive the answer.
      val rows = try out.collect() finally { ed.unpersist(); deg.unpersist() }
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    },

    // ---- q36: onion decomposition — synchronous k-core peeling
    // (threshold 3, 4 unrolled rounds) over the q33 co-purchase graph:
    // layer(v) = the round at which v is peeled (its degree among
    // still-active nodes drops under 3), survivors after round 4 form
    // the residual core (layer 5). This is the distributed k-core
    // algorithm's actual shape — each round is ONE edge-keyed degree
    // aggregate semi-joined on the shrinking active set, layers are
    // bulk-synchronous, no per-node sequential peeling — and the
    // layer count is the fixed unroll both engines share. Per-round
    // frames are localCheckpoint-ed — lineage truncation, not just
    // caching, is what bounds the planning cost of the iteration
    // (DedupClusters' discipline; see the in-loop comment); every
    // shuffle key is an 8-byte part id.
    GraftQuery.sql("q36_onion_layers", {
      val prelude = coPurchaseSql +
        ",\na0 AS (SELECT DISTINCT src AS node FROM ed)"
      val rounds = (1 to 4).map { r =>
        s"""d$r AS (SELECT ed.src AS node, COUNT(*) AS dg FROM ed
           |  JOIN a${r - 1} s ON ed.src = s.node
           |  JOIN a${r - 1} t ON ed.dst = t.node GROUP BY 1),
           |p$r AS (SELECT a.node FROM a${r - 1} a LEFT JOIN d$r ON a.node = d$r.node
           |  WHERE COALESCE(d$r.dg, 0) < 3),
           |a$r AS (SELECT node FROM a${r - 1} EXCEPT SELECT node FROM p$r)""".stripMargin
      }.mkString(",\n", ",\n", "")
      prelude + rounds +
        """
          |SELECT node, CAST(layer AS BIGINT) AS layer FROM (
          |  SELECT node, 1 AS layer FROM p1
          |  UNION ALL SELECT node, 2 FROM p2
          |  UNION ALL SELECT node, 3 FROM p3
          |  UNION ALL SELECT node, 4 FROM p4
          |  UNION ALL SELECT node, 5 FROM a4) z
          |ORDER BY node""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val ed = coPurchaseEdges(s, dir)
        .persist() // re-read every peeling round; released after the loop
      // the active NODE set is graph-node-sized (≪ edges) — it rides
      // into each round's degree count as a BROADCAST semi-join, so
      // the edge set is map-side filtered and never reshuffled per
      // round (at node counts past broadcast size, drop the hint and
      // these become shuffled semi-joins on the same 8-byte key).
      // Each round's frames are localCheckpoint-ed (DedupClusters'
      // iteration discipline): persist alone leaves the logical plan
      // nesting round over round, and the ANALYSIS cost of that tree
      // grows superlinearly — measured 20 s of pure planning by round
      // 4 at sf0.1 versus 8 s end-to-end with truncated lineage.
      var active = ed.select($"src".as("node")).distinct().localCheckpoint()
      var peeled = Seq.empty[org.apache.spark.sql.DataFrame]
      for (r <- 1 to 4) {
        val dr = ed
          .join(broadcast(active.select($"node".as("src"))), Seq("src"), "left_semi")
          .join(broadcast(active.select($"node".as("dst"))), Seq("dst"), "left_semi")
          .groupBy($"src".as("node")).agg(count(lit(1)).as("dg"))
        val pr = active.join(dr, Seq("node"), "left")
          .filter(coalesce($"dg", lit(0L)) < 3)
          .select($"node", lit(r.toLong).as("layer"))
          .localCheckpoint() // read by the final union AND the anti-join
        peeled = peeled :+ pr
        active = active.join(broadcast(pr.select($"node")), Seq("node"), "left_anti")
          .localCheckpoint()
      }
      // eager rounds are all checkpointed — the edge cache must not
      // outlive the loop (q33/q34's discipline)
      ed.unpersist()
      peeled.reduce(_ unionByName _)
        .unionByName(active.select($"node", lit(5L).as("layer")))
        .orderBy($"node")
    }
  )
}
