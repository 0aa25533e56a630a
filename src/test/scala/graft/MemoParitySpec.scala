package graft

import graft.util.CorpusMemo
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The session memos must be pure caches: a cached fit (centroids under
  * both quantization modes) is bit-identical to a direct fit, a hit never
  * rebuilds the input plan, and distinct tags never alias. BpeSpec covers
  * the same contract for the BPE trainer; the edge/pair memos are covered
  * end-to-end by the oracle sweep (every consumer hash-matches DuckDB
  * through the memoized path). CorpusMemo's lifetime rules are pinned
  * here too: one generation per corpus dir, released on rewrite or
  * deletion, and nothing kept for an unreadable dir. */
class MemoParitySpec extends SparkSpec {

  test("KMeans.fitCached equals KMeans.fit, and a hit skips the Lloyd rounds") {
    import spark.implicits._
    val embs = Tables.load(spark, Sf0001, "embeddings")
    val direct = graft.operators.KMeans.fit(spark, embs, k = 4, iters = 2)
      .orderBy($"vec_id").collect().toSeq
    val cached = graft.operators.KMeans
      .fitCached(spark, embs, k = 4, iters = 2, dir = Sf0001)
      .orderBy($"vec_id").collect().toSeq
    assert(cached === direct, "cached fit must be bit-identical to direct fit")
    // the assignment pass re-executes per call (it reads embs), but the
    // centroid rounds must come from the memo: a second call is cheap
    // and, more importantly, deterministic against the first
    val again = graft.operators.KMeans
      .fitCached(spark, embs, k = 4, iters = 2, dir = Sf0001)
      .orderBy($"vec_id").collect().toSeq
    assert(again === direct)
  }

  private def tempDir(): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus").toFile
    dir.deleteOnExit()
    dir
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  test("CorpusMemo: an in-place corpus rewrite MISSES instead of serving stale rows") {
    import spark.implicits._
    val dir = tempDir().getAbsolutePath
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    def live = spark.read.parquet(dir)
    def sumIds = CorpusMemo.rows(spark, dir, "ids")(live).agg(sum($"id")).as[Long].head()
    assert(sumIds === 3L)
    assert(sumIds === 3L, "the memo must hit while the corpus is untouched")
    // rewrite IN PLACE: same dir string, different data — a memo keyed
    // on the bare dir string would keep serving the stale rows here
    Seq((10L, "x"), (20L, "y"), (30L, "z")).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    assert(sumIds === 60L,
      "the memo must miss after the rewrite (a stale hit would return 3)")
  }

  test("CorpusMemo: a rewrite releases the old artifacts and unpersists the " +
      "over-cap frame") {
    import spark.implicits._
    val dir = tempDir()
    val big = CorpusMemo.rows(spark, dir.toString, "big")(spark.range(CorpusMemo.MaxRows + 1).toDF("v"))
    assert(big.storageLevel !== StorageLevel.NONE)
    CorpusMemo.get(spark, dir.toString, "small")(1)
    assert(CorpusMemo.tags(spark, dir.toString) === Set("big", "small"))
    Seq(1L).toDF("v").write.parquet(new java.io.File(dir, "more").toString)
    assert(CorpusMemo.get(spark, dir.toString, "small")(2) === 2, "the rewrite must miss")
    assert(CorpusMemo.tags(spark, dir.toString) === Set("small"),
      "the old generation's artifacts must be gone, not kept next to the new ones")
    assert(big.storageLevel === StorageLevel.NONE, "the old over-cap frame must be unpersisted")
    deleteTree(dir)
  }

  test("CorpusMemo: a deleted corpus's artifacts are gone after the next miss") {
    val dir = tempDir()
    val big = CorpusMemo.rows(spark, dir.toString, "big")(spark.range(CorpusMemo.MaxRows + 1).toDF("v"))
    CorpusMemo.get(spark, dir.toString, "small")(1)
    deleteTree(dir)
    val other = tempDir()
    CorpusMemo.get(spark, other.toString, "miss")(1)
    assert(CorpusMemo.tags(spark, dir.toString).isEmpty)
    assert(big.storageLevel === StorageLevel.NONE, "a dropped over-cap frame must be unpersisted")
    deleteTree(other)
  }

  test("CorpusMemo: alias paths of one dir share one entry") {
    val dir = tempDir()
    assert(CorpusMemo.get(spark, dir.toString + "/", "alias")(1) === 1)
    val alias = new java.io.File(dir, "../" + dir.getName).toString
    assert(CorpusMemo.get[Int](spark, alias, "alias")(sys.error("alias path rebuilt")) === 1,
      "canonicalization must fold alias paths onto one memo entry")
  }

  test("CorpusMemo: an unreadable dir builds on every call and leaves the memo empty") {
    val dir = tempDir()
    deleteTree(dir)
    val before = CorpusMemo.size
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    CorpusMemo.get(spark, dir.toString, "gone")(builds.incrementAndGet())
    CorpusMemo.get(spark, dir.toString, "gone")(builds.incrementAndGet())
    assert(builds.get() === 2, "an unreadable dir must rebuild, never serve a possibly-stale entry")
    assert(CorpusMemo.tags(spark, dir.toString).isEmpty)
    assert(CorpusMemo.size <= before)
  }

  test("AnnIvf.centroidsCached equals AnnIvf.centroids; mode and key are " +
      "part of the cache identity") {
    val embs = Tables.load(spark, Sf0001, "embeddings")
    val direct = graft.operators.AnnIvf.centroids(spark, embs, numClusters = 4)
    val cached = graft.operators.AnnIvf
      .centroidsCached(spark, embs, numClusters = 4, iters = 1, dir = Sf0001)
    assert(cached.map(_.toSeq).toSeq === direct.map(_.toSeq).toSeq,
      "cached IVF centroids must equal a direct build")
    // a hit must not evaluate the embeddings argument (by-name thunk)
    val hit = graft.operators.AnnIvf.centroidsCached(spark,
      sys.error("cache miss: embeddings plan rebuilt"),
      numClusters = 4, iters = 1, dir = Sf0001)
    assert(hit.map(_.toSeq).toSeq === direct.map(_.toSeq).toSeq)
    // the PLAIN-lattice mode under the same (k, iters) must not alias
    // the normalized-lattice entry: KMeans.fitCached seeds from
    // unnormalized quantization, so its centroids differ
    import spark.implicits._
    graft.operators.KMeans.fitCached(spark, embs, k = 4, iters = 1,
      dir = Sf0001).collect() // populates centroids/plain/4/1
    val ivfAgain = graft.operators.AnnIvf.centroidsCached(spark, embs,
      numClusters = 4, iters = 1, dir = Sf0001)
    assert(ivfAgain.map(_.toSeq).toSeq === direct.map(_.toSeq).toSeq,
      "ivfnorm and plain cache spaces must not alias under the same dir")
  }
}
