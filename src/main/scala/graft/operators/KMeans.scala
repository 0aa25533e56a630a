package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact integer-lattice k-means over an `array<float>` embedding
  * column (SURVEY.md §2.4 d46) — Lloyd's algorithm made bit-exact
  * across engines so the whole iteration is DuckDB-hash-checkable,
  * unlike float k-means whose centroid means depend on FP summation
  * order.
  *
  * The trick is to run every step in integer arithmetic:
  *   1. quantize: q_i = floor((x_i + 1) · 2^20) — float→double is
  *      exact, adding 1 and scaling by a power of two are exact FP ops,
  *      and the +1 shift makes every coordinate non-negative so the
  *      truncating integer divisions below agree between engines
  *      (floor-div vs trunc-div differ on negatives). The shift is
  *      distance-invariant, so cluster geometry is untouched; the
  *      2^-20 lattice spacing is far below any embedding's noise floor.
  *   2. assign: argmin_k Σ_i (q_i − c_{k,i})² in BIGINT (≤ 64·2^42 —
  *      no overflow), ties to the lowest cluster id.
  *   3. update: centroids are re-ROUNDED to the lattice each round,
  *      c_{k,i} = (2·s_{k,i} + n_k) div (2·n_k) (round-half-up integer
  *      division — exact, deterministic), so the next round's input is
  *      again pure integers. An emptied cluster keeps its previous
  *      centroid. Quantized-centroid Lloyd converges like standard
  *      Lloyd (the lattice perturbation per round is ≤ half a cell).
  *
  * Scale shape (the AnnIvf discipline): assignment is a MAP-SIDE fold
  * over a k×dim centroid literal — a projection with no Exchange, so
  * each round is one pass over the data; the update shuffles only
  * (cluster, dim) partial sums (k·dim longs), never vectors; the
  * driver holds k·dim longs per round. Rounds are separate jobs — k
  * and the iteration count are the only driver-side state.
  *
  * Reference scope: the reference engine has no clustering operator —
  * this extends the d9-d11/d38/d44 similarity family with the
  * partitioning step SemDeDup-style pipelines cluster with (Abbas et
  * al. 2023 run k-means before per-cluster dedup; AnnIvf's IVF build
  * is itself one Lloyd step over float means).
  */
object KMeans {

  private val Scale = 1L << 20

  /** Quantized coordinates as a BIGINT array column. */
  def quantize(emb: Column): Column =
    transform(emb, x => floor((x.cast("double") + lit(1.0)) * lit(Scale.toDouble)).cast("long"))

  /** Seed centroids: the k lowest-vec_id rows of a pre-quantized
    * (vec_id, q) table (deterministic, the AnnIvf seeding). */
  private def seedsQ(qdf: DataFrame, k: Int): Array[Array[Long]] = {
    import qdf.sparkSession.implicits._
    qdf.orderBy($"vec_id").limit(k)
      .select($"q")
      .collect()
      .map(_.getSeq[Long](0).toArray)
  }

  private[operators] def centroidLiteral(cents: Array[Array[Long]]): Column =
    array(cents.zipWithIndex.map { case (c, k) =>
      struct(lit(k.toLong).as("cid"), typedLit(c.toSeq).as("c"))
    }.toIndexedSeq: _*)

  /** Exact integer squared-L2 between two BIGINT lattice arrays. */
  private[operators] def dist2(q: Column, c: Column): Column =
    aggregate(zip_with(q, c, (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, v) => acc + v)

  /** The lattice argmin as one struct(d, cid) expression: array_min
    * over (d, cid) structs — struct ordering is field-lexicographic,
    * so the minimum IS the argmin with the lowest-cid tie-break, and
    * each distance is evaluated exactly once (a conditional fold would
    * expand every distance twice: once in the compare, once in the
    * kept struct). A pure projection — no Exchange. */
  private[operators] def bestOf(q: Column, cents: Array[Array[Long]]): Column =
    array_min(transform(
      centroidLiteral(cents),
      e => struct(dist2(q, e.getField("c")).as("d"), e.getField("cid").as("cid"))))

  /** One assignment pass of a (vec_id, q) table against a centroid
    * literal: (vec_id, q, cluster_id, dist2). */
  private[operators] def assignQ(qdf: DataFrame, cents: Array[Array[Long]]): DataFrame = {
    import qdf.sparkSession.implicits._
    qdf.select($"vec_id", $"q")
      .withColumn("best", bestOf($"q", cents))
      .select($"vec_id", $"q",
        $"best".getField("cid").as("cluster_id"), $"best".getField("d").as("dist2"))
  }

  /** [[fitCentroidsQ]] memoized per session and corpus dir in
    * [[graft.util.CorpusMemo]], under a quantization-mode tag (plain
    * lattice vs AnnIvf's normalized lattice: the same k over the same
    * corpus yields different centroids per mode, so the mode must be in
    * the tag). Lloyd from deterministic seeds over a corpus is a pure
    * function, several entries share one index (d46 fits, d68 samples
    * from the same clustering; d11 and d44 probe the same C=16 IVF), and
    * the memoized value is k×dim longs, never vectors. `qdf` must be
    * derived from `dir` alone and is by-name, so a hit never builds the
    * quantization plan. */
  private[operators] def fitCentroidsQCached(spark: SparkSession, qdf: => DataFrame,
                                             k: Int, iters: Int, dir: String,
                                             mode: String): Array[Array[Long]] =
    graft.util.CorpusMemo.get(spark, dir, s"centroids/$mode/$k/$iters") {
      fitCentroidsQ(spark, qdf, k, iters)
    }

  /** `iters` lattice-Lloyd update rounds from the deterministic seeds
    * over a pre-quantized (vec_id, q) table; returns the centroids.
    * Shared by [[fit]] and AnnIvf's IVF build (which quantizes the
    * NORMALIZED coordinates so lattice L2 tracks cosine geometry). */
  private[operators] def fitCentroidsQ(spark: SparkSession, qdf: DataFrame,
                                       k: Int, iters: Int): Array[Array[Long]] = {
    import spark.implicits._
    GraftFunctions.register(spark)
    require(k >= 1 && iters >= 1, s"k=$k iters=$iters: need k>=1, iters>=1")
    var cents = seedsQ(qdf, k)
    require(cents.length == k,
      s"k-means needs at least k=$k vectors to seed, input provided ${cents.length}")
    val dim = cents.head.length
    for (_ <- 1 to iters) {
      // (cluster, dim) partial aggregate: k·dim (sum, count) cells —
      // the only exchange per round, vectors never shuffle
      val sums = assignQ(qdf, cents)
        .select($"cluster_id", posexplode($"q"))
        .groupBy($"cluster_id", $"pos")
        .agg(sum($"col").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        val (cid, pos) = (r.getLong(0).toInt, r.getInt(1))
        val (s, n) = (r.getLong(2), r.getLong(3))
        next(cid)(pos) = (2 * s + n) / (2 * n) // round-half-up, all >= 0
      }
      cents = next
      require(cents.forall(_.length == dim))
    }
    cents
  }

  /** `iters` rounds of quantized Lloyd from the deterministic seeds;
    * returns the final assignment (vec_id, cluster_id, dist2). */
  def fit(spark: SparkSession, embs: DataFrame, k: Int, iters: Int): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val qdf = embs.select($"vec_id", quantize($"embedding").as("q"))
    val cents = fitCentroidsQ(spark, qdf, k, iters)
    assignQ(qdf, cents).select($"vec_id", $"cluster_id", $"dist2")
  }

  /** [[fit]] with the centroid rounds memoized per corpus dir (see
    * fitCentroidsQCached): the fitting entry and every consumer of the same
    * clustering (d46 → d68) share one Lloyd run per session; the final
    * assignment pass — a map-side projection — re-executes per call. */
  def fitCached(spark: SparkSession, embs: DataFrame, k: Int, iters: Int,
                dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val qdf = embs.select($"vec_id", quantize($"embedding").as("q"))
    val cents = fitCentroidsQCached(spark, qdf, k, iters, dir, "plain")
    assignQ(qdf, cents).select($"vec_id", $"cluster_id", $"dist2")
  }
}
