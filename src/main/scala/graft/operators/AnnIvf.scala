package graft.operators

import graft.functions.{GraftFunctions, Vectors}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor over an
  * `array<float>` embedding column — the scale path for similarity
  * search (SURVEY.md §2.4 d11), recall-tested against the brute-force
  * baseline (d10) in AnnSpec.
  *
  * The index-side math (centroid build, assignment, probe ranking)
  * runs on KMeans' 2^-20 integer lattice over NORMALIZED coordinates:
  * on the unit sphere |a−b|² = 2−2·cosθ, so integer squared-L2 order
  * tracks the cosine order the scorer ranks by, while every build step
  * (floor-quantize, BIGINT argmin, round-half-up centroid update) is
  * bit-exact across engines — which is what lets the d11 DuckDB oracle
  * replay the WHOLE pipeline (the former float-mean Lloyd step was the
  * one engine-ordering-dependent stage and kept d11 rows-only).
  * Candidate SCORING stays true double cosine on the original floats.
  *
  * Shape, and why it survives 100 TB:
  *   1. centroid build: C seed vectors (deterministic: lowest vec_ids),
  *      one integer-Lloyd refinement (KMeans.fitCentroidsQ) — the
  *      update shuffles (cluster, dim) partial sums, never vectors.
  *   2. index: each vector is assigned to its nearest centroid as a
  *      MAP-SIDE argmin over a literal array of the C centroids — a
  *      pure projection with NO exchange (the r2 crossJoin+window form
  *      shuffled n×C rows each carrying the full embedding; at 100 TB
  *      with C=16 that was a 16× amplified shuffle of the corpus).
  *      The "inverted file" is just a cluster_id column — at scale this
  *      is the partitioning/bucketing key, so a probe touches only
  *      nprobe/C of the data.
  *   3. search: rank centroids per query map-side too (sort the same
  *      literal array per row, slice nprobe), then search only the
  *      probed clusters; per-cluster local top-k merges to a global
  *      top-k via one window — TakeOrdered semantics, no full sort of
  *      the corpus.
  *
  * Output cosines are the codegen'd vec_dot expression over the
  * original float vectors (same index-ascending double accumulation
  * the d9/d10 oracles replay).
  */
object AnnIvf {

  private val Scale = 1L << 20

  /** Normalized-lattice quantization: q_i = floor((x_i/|x| + 1)·2^20).
    * |x| is the index-ascending double fold (Vectors.norm) the d9/d10
    * oracles already replay; divide, +1 shift and power-of-two scale
    * are exact IEEE ops, so both engines land on identical integers.
    * The single-element outer transform binds the norm ONCE per row —
    * inlining Vectors.norm into the per-element lambda would recompute
    * the O(dim) fold dim times (an O(dim²) projection). */
  def quantizeNorm(emb: Column): Column =
    element_at(
      transform(array(Vectors.norm(emb)), nrm =>
        transform(emb, x =>
          floor((x.cast("double") / nrm + lit(1.0)) * lit(Scale.toDouble))
            .cast("long"))),
      1)

  private def qdf(embs: DataFrame): DataFrame = {
    import embs.sparkSession.implicits._
    embs.select($"vec_id", quantizeNorm($"embedding").as("q"))
  }

  /** The index build's default Lloyd refinement count — referenced by
    * BOTH the uncached and cached paths so a retuning cannot silently
    * diverge them (a cached search must build the same index an
    * uncached one would). */
  val DefaultIters = 1

  /** C lattice centroids after `iters` integer-Lloyd refinements from
    * the deterministic lowest-vec_id seeds. Driver-side: C×dim longs. */
  def centroids(spark: SparkSession, embeddings: DataFrame,
                numClusters: Int, iters: Int = DefaultIters): Array[Array[Long]] = {
    GraftFunctions.register(spark)
    KMeans.fitCentroidsQ(spark, qdf(embeddings), numClusters, iters)
  }

  /** [[centroids]] memoized per session and corpus dir
    * (KMeans.fitCentroidsQCached, under the normalized-lattice mode tag):
    * the IVF index over a corpus is deterministic, so every consumer of
    * the same (corpus, C) index — the ANN search entry and the
    * semantic-dedup candidate generator — shares one Lloyd build per
    * session. `embeddings` must be derived from `dir` alone. */
  def centroidsCached(spark: SparkSession, embeddings: => DataFrame,
                      numClusters: Int, iters: Int,
                      dir: String): Array[Array[Long]] = {
    GraftFunctions.register(spark)
    KMeans.fitCentroidsQCached(spark, qdf(embeddings), numClusters, iters,
      dir, "ivfnorm")
  }

  /** Nearest-centroid assignment: a single projection — the lattice
    * argmin over the centroid literal, ties to the lowest cluster_id.
    * No Exchange anywhere in this stage. */
  def assign(spark: SparkSession, embeddings: DataFrame,
             cents: Array[Array[Long]]): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    // bind q once per row (the same single-element-transform hoist as
    // quantizeNorm's own norm): bestOf expands to one dist2 per
    // centroid, which would otherwise re-quantize the row C times
    val best = element_at(
      transform(array(quantizeNorm($"embedding")), q => KMeans.bestOf(q, cents)),
      1)
    embeddings.select($"vec_id", $"embedding",
      best.getField("cid").as("cluster_id"))
  }

  /** Multi-probe index: every vector assigned to its `nprobe` nearest
    * centroids (exploded — one row per (vector, probed cluster)). This
    * is the candidate-generation side of semantic dedup's scale path
    * (SemDedup.annEdges): two vectors can meet only inside a shared
    * probed cluster, so the quadratic pair/verify work is bounded per
    * bucket instead of per corpus. Same map-side literal-sort shape as
    * [[search]]'s probe stage — no Exchange. Ranking is (dist2 asc,
    * cid asc) on the lattice — pure integer sort, engine-exact. */
  def assignTop(spark: SparkSession, embeddings: DataFrame,
                cents: Array[Array[Long]], nprobe: Int): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    // q bound once per row (see assign) before the per-centroid fan-out
    val probes = element_at(
      transform(array(quantizeNorm($"embedding")), q =>
        slice(array_sort(transform(KMeans.centroidLiteral(cents), c => struct(
          KMeans.dist2(q, c.getField("c")).as("d"),
          c.getField("cid").as("cid")))), 1, nprobe)),
      1)
    embeddings
      .select($"vec_id", $"embedding", explode(probes).as("pc"))
      .select($"vec_id", $"embedding", $"pc.cid".as("cluster_id"))
  }

  /** Top-k neighbors for each query vector, probing `nprobe` clusters.
    * `corpusDir`, when set, memoizes the index build per corpus (see
    * [[centroidsCached]]) — pass the dir `embeddings` was read from so
    * repeated searches and other consumers of the same index skip the
    * Lloyd rounds; leave unset for derived or in-memory inputs. */
  def search(spark: SparkSession, embeddings: DataFrame, queries: DataFrame,
             numClusters: Int, nprobe: Int, k: Int,
             corpusDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val cents = corpusDir match {
      case Some(dir) =>
        centroidsCached(spark, embeddings, numClusters, DefaultIters, dir)
      case None => centroids(spark, embeddings, numClusters)
    }
    val indexed = assign(spark, embeddings, cents)

    // rank centroids per query map-side via the ONE probe-ranking
    // implementation (assignTop) — dist2 asc with cid-asc ties; no
    // exchange on the query side. A second inlined copy of the scoring
    // block once lived here; any tie-break fix would have had to land
    // twice.
    val probed = assignTop(spark, queries.select($"vec_id", $"embedding"),
        cents, nprobe)
      .select($"vec_id".as("q_id"), $"embedding".as("qe"), $"cluster_id")

    // search only the probed clusters; same tie-break as the exact d10
    val wk = Window.partitionBy($"q_id").orderBy($"cos".desc, $"neighbor_id")
    probed.join(indexed, "cluster_id")
      .filter($"q_id" =!= $"vec_id")
      .withColumn("cos", Vectors.dot($"qe", $"embedding") /
        (Vectors.norm($"qe") * Vectors.norm($"embedding")))
      .select($"q_id", $"vec_id".as("neighbor_id"), $"cos")
      .withColumn("rk", row_number().over(wk).cast("long"))
      .filter($"rk" <= k)
      .select($"q_id", $"neighbor_id", round($"cos", 6).as("cos"), $"rk")
  }
}
