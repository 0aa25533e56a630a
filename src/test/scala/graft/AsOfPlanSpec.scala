package graft

import graft.operators.AsOfJoin
import graft.plans.{AsOfJoinExec, AsOfJoinPlan}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The plan-level as-of join (custom LogicalPlan + SparkStrategy +
  * physical streaming-merge exec): row-for-row parity with the composed
  * union+window operator on real data, the null-match contract, and the
  * physical shape that justifies its existence (two co-partitioned
  * exchanges, a streaming merge, NO window operator and no union). */
class AsOfPlanSpec extends SparkSpec {
  import spark.implicits._

  private def events() = Tables.events(spark, Sf0001)
    .filter($"event_type".isin("click", "purchase"))
    .select($"event_id", $"user_id", $"ts", $"event_type")

  private def purchases() = events().filter($"event_type" === "purchase")
    .select($"event_id", $"user_id", $"ts")
  private def clicks() = events().filter($"event_type" === "click")
    .select($"user_id".as("c_user"), $"ts".as("click_ts"),
      $"event_id".as("click_id"))
    .withColumnRenamed("c_user", "user_id")

  /** Name-ordered columns (the two forms emit the same columns in
    * different positions), then row-sorted. */
  private def canon(df: DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.sorted.map(col).toSeq
    df.select(cols: _*).collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
  }

  test("backward: parity with the composed operator, including same-instant tiebreaks") {
    val exec = AsOfJoinPlan.latestAtOrBefore(purchases(), clicks(),
      keys = Seq("user_id"), leftTs = "ts", rightTs = "click_ts",
      valueCols = Seq("click_ts", "click_id"), tiebreaker = Some("click_id"))
    val composed = AsOfJoin.latestAtOrBefore(purchases(), clicks(),
      keys = Seq("user_id"), leftTs = "ts", rightTs = "click_ts",
      valueCols = Seq("click_ts", "click_id"), tiebreaker = Some("click_id"))
    assert(canon(exec) === canon(composed))
    assert(exec.count() === purchases().count(), "every left row emitted once")
  }

  test("forward: parity with the composed operator") {
    val exec = AsOfJoinPlan.earliestAtOrAfter(purchases(), clicks(),
      keys = Seq("user_id"), leftTs = "ts", rightTs = "click_ts",
      valueCols = Seq("click_ts", "click_id"), tiebreaker = Some("click_id"))
    val composed = AsOfJoin.earliestAtOrAfter(purchases(), clicks(),
      keys = Seq("user_id"), leftTs = "ts", rightTs = "click_ts",
      valueCols = Seq("click_ts", "click_id"), tiebreaker = Some("click_id"))
    assert(canon(exec) === canon(composed))
  }

  test("unmatched left rows carry nulls; keys absent from the right never match") {
    val l = Seq((1L, 10L, 100L), (1L, 20L, 200L), (2L, 5L, 300L))
      .toDF("k", "t", "payload")
    val r = Seq((1L, 15L, "a"), (3L, 1L, "b")).toDF("k", "t2", "v")
    val out = AsOfJoinPlan.latestAtOrBefore(l, r, Seq("k"), "t", "t2", Seq("v"))
      .orderBy($"t").collect()
    assert(out.map(x => (x.getLong(0), x.getLong(1), Option(x.getString(3)))).toSeq ===
      Seq((2L, 5L, None), (1L, 10L, None), (1L, 20L, Some("a"))))
  }

  test("null timestamps: plan-level semantics match the fixed operator (both directions)") {
    import graft.plans.AsOfJoinPlan
    import java.sql.Timestamp
    def t(m: Int) = new Timestamp(m * 60000L)
    val trades = Seq(
      (1L, Some(t(10)), "T1"), (1L, Option.empty[Timestamp], "Tnull"))
      .toDF("acct", "trade_ts", "trade_id")
    val quotes = Seq(
      (1L, Some(t(5)), 100.0), (1L, Some(t(15)), 200.0),
      (1L, Option.empty[Timestamp], 999.0))
      .toDF("acct", "quote_ts", "px")
    def collect(df: DataFrame) =
      df.select($"trade_id", $"px").collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val back = collect(AsOfJoinPlan.latestAtOrBefore(trades, quotes,
      keys = Seq("acct"), leftTs = "trade_ts", rightTs = "quote_ts",
      valueCols = Seq("px")))
    assert(back("T1") === Some(100.0), "null-ts quote must never win a backward lookup")
    assert(back("Tnull") === None, "a null-ts trade matches nothing")
    val fwd = collect(AsOfJoinPlan.earliestAtOrAfter(trades, quotes,
      keys = Seq("acct"), leftTs = "trade_ts", rightTs = "quote_ts",
      valueCols = Seq("px")))
    assert(fwd("T1") === Some(200.0))
    assert(fwd("Tnull") === None, "a null-ts trade matches nothing forward either")
  }

  test("physical shape: merge exec + two exchanges, no window, no union") {
    val exec = AsOfJoinPlan.latestAtOrBefore(purchases(), clicks(),
      keys = Seq("user_id"), leftTs = "ts", rightTs = "click_ts",
      valueCols = Seq("click_ts", "click_id"), tiebreaker = Some("click_id"))
    val p = exec.queryExecution.executedPlan.toString
    // string match: also sees inside an AQE wrapper, should a session enable it
    assert(p.contains("AsOfJoin "), s"no AsOfJoinExec in:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"expected the two co-partition exchanges, got $exchanges:\n$p")
    assert(!p.contains("Window"), s"the plan-level form must not window:\n$p")
    assert(!p.contains("Union"), s"the plan-level form must not union:\n$p")
  }

  test("pruning rule: a narrow projection shrinks both scans' ReadSchema through the node") {
    // left = full events table (5 columns); query uses only event_id +
    // the join key/ts; right carries an extra column never emitted.
    // Without PruneAsOfJoinColumns the node's references block ALL
    // pruning and both scans read every column.
    val l = Tables.events(spark, Sf0001) // event_id, ts, user_id, event_type, value
    val r = Tables.events(spark, Sf0001)
      .select($"user_id".as("u2"), $"ts".as("ts2"), $"event_id".as("click_id"),
        $"value".as("unused_value"))
      .withColumnRenamed("u2", "user_id")
    val out = AsOfJoinPlan.latestAtOrBefore(l, r,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts2",
        valueCols = Seq("click_id"))
      .select($"event_id", $"click_id")
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin "), s"operator missing:\n$p")
    // left scan: event_id/ts/user_id only; value + event_type pruned
    assert(!p.contains("value#") || !p.split("ReadSchema").exists(s =>
      s.contains("value") && s.contains("event_id")),
      s"left scan reads pruned columns:\n$p")
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toList
    assert(schemas.nonEmpty)
    schemas.foreach { sc =>
      assert(!sc.contains("event_type"), s"event_type not pruned: $sc\n$p")
    }
    // parity: pruning must not change results
    val expect = AsOfJoinPlan.latestAtOrBefore(l, r,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts2",
        valueCols = Seq("click_id", "unused_value"))
      .select($"event_id", $"click_id")
    assert(canon(out) === canon(expect))
  }

  test("property: random instances match an independent Scala model, both directions") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // deterministic seeded sampling (no scalatestplus bridge offline)
    def forSamples[A](gen: Gen[A], n: Int)(f: A => Unit): Unit = {
      var seed = Seed(7L)
      val params = Gen.Parameters.default.withSize(25)
      (0 until n).foreach { _ =>
        gen.apply(params, seed).foreach(f); seed = seed.next
      }
    }
    val genLeft = Gen.listOf(Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 15L)))
    val genRight = Gen.listOf(Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 15L),
      Gen.choose(0, 9).map(i => s"v$i")))
    forSamples(Gen.zip(genLeft, genRight), n = 12) { case (ls, rs) =>
      val l = ls.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("k", "t", "lid")
      val r = rs.toDF("k", "t2", "v")
      // independent reference model (pure Scala, not the composed op)
      def modelB(k: Long, t: Long): Option[String] =
        rs.filter(x => x._1 == k && x._2 <= t)
          .sortBy(x => (x._2, x._3)).lastOption.map(_._3)
      def modelF(k: Long, t: Long): Option[String] =
        rs.filter(x => x._1 == k && x._2 >= t)
          .sortBy(x => (x._2, x._3)).headOption.map(_._3)
      val back = AsOfJoinPlan.latestAtOrBefore(l, r, Seq("k"), "t", "t2",
          Seq("v"), tiebreaker = Some("v"))
        .select($"lid", $"v").collect()
        .map(x => x.getLong(0) -> Option(x.getString(1))).toMap
      val fwd = AsOfJoinPlan.earliestAtOrAfter(l, r, Seq("k"), "t", "t2",
          Seq("v"), tiebreaker = Some("v"))
        .select($"lid", $"v").collect()
        .map(x => x.getLong(0) -> Option(x.getString(1))).toMap
      ls.zipWithIndex.foreach { case ((k, t), i) =>
        assert(back(i.toLong) === modelB(k, t),
          s"backward mismatch at left ($k,$t) with rights $rs")
        assert(fwd(i.toLong) === modelF(k, t),
          s"forward mismatch at left ($k,$t) with rights $rs")
      }
    }
  }

  test("adversarial merge: duplicate instants, repeated left timestamps, single partition stream") {
    // hand-built case hitting every merge branch: same-instant right
    // duplicates (tiebreak), left rows sharing a timestamp, right rows
    // under stale keys, a right-only key, and a left key past all rights
    val l = Seq((1L, 10L), (1L, 10L), (1L, 30L), (2L, 1L), (4L, 50L))
      .toDF("k", "t").withColumn("lid", monotonically_increasing_id())
    val r = Seq((0L, 99L, "stale"), (1L, 10L, "x"), (1L, 10L, "y"),
      (1L, 20L, "z"), (3L, 1L, "only"))
      .toDF("k", "t2", "v")
    val out = AsOfJoinPlan.latestAtOrBefore(l, r, Seq("k"), "t", "t2",
        Seq("v"), tiebreaker = Some("v"))
      .select($"k", $"t", $"v").collect().map(x =>
        (x.getLong(0), x.getLong(1), Option(x.getString(2)))).toSeq.sorted
    assert(out === Seq((1L, 10L, Some("y")), (1L, 10L, Some("y")),
      (1L, 30L, Some("z")), (2L, 1L, None), (4L, 50L, None)).sorted)
    // forward twin on the same data: earliest at-or-after, smallest tiebreak
    val fwd = AsOfJoinPlan.earliestAtOrAfter(l, r, Seq("k"), "t", "t2",
        Seq("v"), tiebreaker = Some("v"))
      .select($"k", $"t", $"v").collect().map(x =>
        (x.getLong(0), x.getLong(1), Option(x.getString(2)))).toSeq.sorted
    assert(fwd === Seq((1L, 10L, Some("x")), (1L, 10L, Some("x")),
      (1L, 30L, None), (2L, 1L, None), (4L, 50L, None)).sorted)
  }
}
