package graft

import graft.functions.Text
import org.apache.spark.sql.functions._

/** d45 (BpeTrain): the k-round merge loop against a plain-Scala greedy
  * fold — a third implementation independent of BOTH the Spark
  * double-space replace and the DuckDB oracle's identical expression,
  * so a shared misunderstanding of the replace trick (overlap handling,
  * boundary sharing) cannot pass silently. */
class BpeSpec extends SparkSpec {

  test("d45: operator merge sequence equals an explicit greedy-fold BPE (sf0.001)") {
    val norms = Tables.load(spark, Sf0001, "documents")
      .select(Text.normalize(col("text")).as("norm"))
      .collect().map(_.getString(0)).filter(_.nonEmpty).toSeq

    // reference implementation on token lists: count ALL adjacent
    // positions (overlapping, with multiplicity), merge greedily
    // left-to-right ("a a a" -> "a+a a", "a b a b" -> both)
    var corpus = norms.map(_.split(" ").toVector)
    val expected = (1 to 6).map { step =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      corpus.foreach { ts =>
        var i = 0
        while (i < ts.length - 1) {
          val p = (ts(i), ts(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + 1
          i += 1
        }
      }
      val (pair, n) = counts.toSeq
        .sortBy { case ((a, b), c) => (-c, a + " " + b) }.head
      corpus = corpus.map { ts =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < ts.length) {
          if (i < ts.length - 1 && ts(i) == pair._1 && ts(i + 1) == pair._2) {
            out += ts(i) + "+" + ts(i + 1); i += 2
          } else { out += ts(i); i += 1 }
        }
        out.result()
      }
      (step.toLong, pair._1 + " " + pair._2, n, corpus.map(_.size.toLong).sum)
    }

    val got = SparkEntry.queries("d45_bpe_train")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected, "merge sequence / corpus token totals diverge")
    assert(got.map(_._4) === got.map(_._4).sorted.reverse,
      "every merge must shrink (or hold) the corpus token total")
  }

  test("d45/d47: trackTokens=false yields the identical merge sequence, " +
      "with only the LAST round's token total unmeasured") {
    import spark.implicits._
    val docs = Tables.load(spark, Sf0001, "documents")
      .select(Text.normalize(col("text")).as("norm"))
    val full = graft.operators.BpeTrain.train(spark, docs, "norm", k = 4)
      .orderBy($"step").collect()
    val pairsOnly = graft.operators.BpeTrain
      .train(spark, docs, "norm", k = 4, trackTokens = false)
      .orderBy($"step").collect()
    assert(full.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ===
      pairsOnly.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq,
      "merge sequence must not depend on token tracking")
    // rounds before the last get their totals from the NEXT round's
    // pair aggregate either way; only the final round's is skipped
    assert(full.init.map(_.getLong(3)).toSeq === pairsOnly.init.map(_.getLong(3)).toSeq)
    assert(pairsOnly.last.getLong(3) === -1L)
    assert(full.last.getLong(3) > 0L)
  }

  test("d45/d47: trainCached memoizes per corpus key — hit skips retraining, " +
      "distinct keys retrain, result equals train()") {
    import spark.implicits._
    val docs = Tables.load(spark, Sf0001, "documents")
      .select(Text.normalize(col("text")).as("norm"))
    val direct = graft.operators.BpeTrain.train(spark, docs, "norm", k = 3)
      .orderBy($"step").collect().toSeq
    val cached = graft.operators.BpeTrain
      .trainCached(spark, docs, "norm", k = 3, dir = Sf0001)
      .orderBy($"step").collect().toSeq
    assert(cached === direct, "cached training must equal direct training")
    // a HIT must not rebuild the corpus plan: the by-name docs argument
    // stays unevaluated, so a poisoned thunk proves the memo was used
    val hit = graft.operators.BpeTrain
      .trainCached(spark, sys.error("cache miss: corpus plan rebuilt"),
        "norm", k = 3, dir = Sf0001)
      .orderBy($"step").collect().toSeq
    assert(hit === direct)
    // a different k is a different key — must retrain, not serve k=3
    val k2 = graft.operators.BpeTrain
      .trainCached(spark, docs, "norm", k = 2, dir = Sf0001)
      .collect()
    assert(k2.length === 2)
  }

  test("d45: a corpus that exhausts before k rounds truncates the output") {
    import spark.implicits._
    // "a b" merges once into a+b; round 2 has no adjacent pair left
    // (both docs are single tokens), so train(k=4) must emit 1 row —
    // matching the oracle's EXISTS-guarded unrolled rounds.
    val docs = Seq("a b", "c").toDF("norm")
    val got = graft.operators.BpeTrain.train(spark, docs, "norm", k = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((1L, "a b", 1L, 2L)))
  }
}
