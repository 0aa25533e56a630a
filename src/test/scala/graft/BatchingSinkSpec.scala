package graft

import graft.streaming.BatchingSink
import graft.streaming.BatchingSink.{Config, PutResult, ThrottledCode}
import graft.util.Retry
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Reference-semantics tests for the batching sink + retry combinator
  * (SURVEY.md §2.1 s2): threshold flush, bounded retry with backoff,
  * throttled-record requeue, success/failure channel routing. Pure JVM —
  * no Spark session needed. */
class BatchingSinkSpec extends AnyFunSuite {

  private def sink(put: Seq[Int] => Seq[PutResult],
                   config: Config = Config(),
                   sleeps: mutable.Buffer[Long] = mutable.Buffer.empty) =
    new BatchingSink[Int](put, config, sleeps += _)

  test("property: arbitrary failure/throttle patterns conserve every record exactly once") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // behavior per record: 0 = succeed, 1 = hard-fail, k in 2..4 =
    // throttle (k-1) flushes then succeed — generated streams cross the
    // buffer cap so threshold flush, requeue, and the close-drain all
    // execute on the same run
    val genCase = for {
      n <- Gen.choose(0, 1200)
      behaviors <- Gen.listOfN(n, Gen.frequency(
        8 -> Gen.const(0), 1 -> Gen.const(1), 2 -> Gen.choose(2, 4)))
      threshold <- Gen.choose(1, 300)
    } yield (behaviors.toVector, threshold)
    var seed = Seed(11L)
    val params = Gen.Parameters.default
    (0 until 60).foreach { _ =>
      genCase.apply(params, seed).foreach { case (behaviors, threshold) =>
        val throttlesLeft = mutable.Map.empty[Int, Int] ++
          behaviors.zipWithIndex.collect { case (k, i) if k >= 2 => i -> (k - 1) }
        val put: Seq[Int] => Seq[PutResult] = batch => batch.map { i =>
          behaviors(i) match {
            case 1 => PutResult(Some("InternalFailure"))
            case k if k >= 2 && throttlesLeft(i) > 0 =>
              throttlesLeft(i) -= 1; PutResult(Some(ThrottledCode))
            case _ => PutResult(None)
          }
        }
        val out = sink(put,
          Config(sendingThreshold = threshold, maxBufferSize = threshold * 2))
          .run(behaviors.indices.iterator).toVector
        // conservation: every record leaves on exactly one channel
        val emitted = out.map(_.fold(_.record, identity)).sorted
        assert(emitted === behaviors.indices.toVector,
          s"records lost or doubled (n=${behaviors.size}, t=$threshold)")
        // the Left channel carries exactly the hard failures — throttling
        // alone can never dead-letter a record
        val lefts = out.collect { case Left(e) => e }
        assert(lefts.map(_.record).toSet === behaviors.indices.filter(behaviors(_) == 1).toSet)
        assert(lefts.forall(_.errorCode != ThrottledCode))
      }
      seed = seed.next
    }
  }

  test("flushes at sendingThreshold, with a final partial flush on close") {
    val batches = mutable.Buffer.empty[Int]
    val ok = sink({ b => batches += b.size; b.map(_ => PutResult(None)) },
      Config(sendingThreshold = 250, maxBufferSize = 500))
      .run((1 to 600).iterator).toSeq
    assert(batches.toSeq === Seq(250, 250, 100))
    assert(ok.size === 600 && ok.forall(_.isRight))
  }

  test("emission is incremental: first flush's results arrive before upstream exhausts") {
    var pulled = 0
    val upstream = (1 to 600).iterator.map { i => pulled += 1; i }
    val it = sink({ b => b.map(_ => PutResult(None)) },
      Config(sendingThreshold = 250, maxBufferSize = 500)).run(upstream)
    val first = it.next()
    assert(first === Right(1))
    // one flush's worth pulled, not the whole partition — the O(batch)
    // heap claim (a buffered implementation would have pulled all 600)
    assert(pulled === 250, s"first result must cost one flush, pulled $pulled")
    assert(it.size === 599, "remaining channel drains completely")
    assert(pulled === 600)
  }

  test("throttled records are requeued and eventually succeed; flush backs off 800ms") {
    val sleeps = mutable.Buffer.empty[Long]
    val throttledOnce = mutable.Set.empty[Int]
    val results = sink({ b =>
      b.map { i =>
        if (i % 10 == 0 && throttledOnce.add(i)) PutResult(Some(ThrottledCode))
        else PutResult(None)
      }
    }, Config(sendingThreshold = 50, maxBufferSize = 100), sleeps)
      .run((1 to 100).iterator).toSeq
    assert(results.size === 100 && results.forall(_.isRight),
      "every throttled record must be retried to success")
    assert(sleeps.count(_ == 800L) >= 1, "throttled flush must self-throttle")
  }

  test("hard failures route to the Left channel with their error code") {
    val results = sink({ b =>
      b.map(i => if (i % 7 == 0) PutResult(Some("InternalFailure")) else PutResult(None))
    }).run((1 to 20).iterator).toSeq
    val (lefts, rights) = results.partition(_.isLeft)
    assert(lefts.map(_.left.toOption.get.record).toSet === (1 to 20).filter(_ % 7 == 0).toSet)
    assert(lefts.forall(_.left.toOption.get.errorCode === "InternalFailure"))
    assert(rights.size === 20 - lefts.size)
  }

  test("transport exceptions retry with exponential backoff, then recover") {
    val sleeps = mutable.Buffer.empty[Long]
    var calls = 0
    val results = sink({ b =>
      calls += 1
      if (calls <= 2) throw new RuntimeException("transient")
      b.map(_ => PutResult(None))
    }, sleeps = sleeps).run((1 to 10).iterator).toSeq
    assert(results.size === 10 && results.forall(_.isRight))
    // 2 failures with tries=7 then 6 remaining: backoff 2^7, 2^6 seconds
    assert(sleeps.take(2).toSeq === Seq(64000L, 64000L)) // capped at 64s
  }

  test("client errors fail fast without retries (error taxonomy)") {
    var calls = 0
    val s = sink({ _ => calls += 1; throw new BatchingSink.ClientException("bad request") })
    intercept[BatchingSink.ClientException] { s.run((1 to 5).iterator).toSeq }
    assert(calls === 1, "client errors must not be retried")
  }

  test("retry budget exhausts and rethrows") {
    var calls = 0
    val s = sink({ _ => calls += 1; throw new RuntimeException(s"always $calls") })
    val err = intercept[RuntimeException] { s.run((1 to 5).iterator).toSeq }
    assert(calls === 8, "1 initial + 7 retries") // reference tries = 7
    assert(err.getMessage === "always 8")
  }

  test("ToRecord typeclass serializes records for a byte-level transport") {
    import graft.streaming.ToRecord
    val seen = mutable.Buffer.empty[(String, String)]
    val results = BatchingSink.over[(String, String)](
      { (batch: Seq[(String, Array[Byte])]) =>
        batch.foreach { case (k, b) => seen += ((k, new String(b, "UTF-8"))) }
        batch.map(_ => PutResult(None))
      }: graft.streaming.RecordWriter, sleeper = _ => ())(ToRecord.keyedRecord[String])
      .run(Iterator(("k1", "v1"), ("k2", "v2"))).toSeq
    assert(results.forall(_.isRight))
    assert(seen.toSeq === Seq(("k1", "v1"), ("k2", "v2")))
  }

  test("withRetries returns first success and reports remaining tries to the hook") {
    val seen = mutable.Buffer.empty[Int]
    var n = 0
    val out = Retry.withRetries(tries = 3, onError = (_, t) => seen += t) {
      n += 1; if (n < 3) throw new IllegalStateException("boom"); "ok"
    }
    assert(out === "ok")
    assert(seen.toSeq === Seq(3, 2))
  }
}
