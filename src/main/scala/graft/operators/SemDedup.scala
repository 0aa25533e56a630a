package graft.operators

import graft.functions.{GraftFunctions, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Semantic deduplication (SemDeDup, Abbas et al. 2023): embeddings
  * whose cosine clears a threshold are near-duplicates even when they
  * share no n-grams; connected components over those edges give every
  * vector a cluster representative and "keep one per semantic cluster"
  * falls out.
  *
  * Two edge generators share one componentization:
  *
  *   - [[exactEdges]]: the all-pairs baseline — O(n²) cosine
  *     comparisons, deterministic and oracle-checkable (the d38 query).
  *     Correct at any recall bar, quadratic in the corpus: the
  *     verification standard, not the scale path.
  *   - [[annEdges]]: the scale path — IVF multi-probe bucketing
  *     (AnnIvf.assignTop): each vector lands in its `nprobe` nearest of
  *     `numClusters` centroid buckets, pairs form ONLY inside a shared
  *     bucket, and the exact cosine then verifies each candidate. The
  *     quadratic is bounded per bucket (expected bucket ~ nprobe·n/C),
  *     which is exactly SemDeDup's own formulation — the paper clusters
  *     first for this reason. Probabilistic in principle (a qualifying
  *     pair straddling disjoint probe sets is missed), so the entry is
  *     rows-only; AnnSpec pins measured edge recall and component
  *     parity against [[exactEdges]] on the test corpus.
  *
  * Both feed the identical [[DedupClusters.assign]] star-contraction
  * call, so the cluster semantics (component = min vec_id reachable)
  * never depend on which generator produced the edges.
  */
object SemDedup {

  /** All pairs (a_id < b_id) with cosine >= threshold — exact, O(n²). */
  def exactEdges(spark: SparkSession, embs: DataFrame, threshold: Double): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val nv = embs.select($"vec_id", $"embedding", Vectors.norm($"embedding").as("nrm"))
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val a = nv.select($"vec_id".as("a_id"), $"embedding".as("ea"), $"nrm".as("na"))
      .repartition(p)
    val b = nv.select($"vec_id".as("b_id"), $"embedding".as("eb"), $"nrm".as("nb"))
    a.join(b, $"a_id" < $"b_id")
      .filter(Vectors.cosineWithNorms($"ea", $"eb", $"na", $"nb") >= threshold)
      .select($"a_id", $"b_id")
  }

  /** Bucket-bounded candidate pairs, cosine-verified — the 100 TB form.
    * Candidates: vectors sharing >= 1 of their `nprobe` probed IVF
    * clusters. The verify runs MAP-SIDE right after the bucket join
    * (embeddings are only ever shuffled once per side, keyed by
    * cluster), and only then are pairs projected to bare ids and
    * distinct-ed — so the pair exchange carries 16-byte verified edges,
    * not candidates dragging two embeddings each (the previous
    * dedup-before-verify shape shuffled every candidate pair with both
    * vectors attached: ~n²/C · 2·dim floats through one groupBy, the
    * dominant cost at any scale). A pair sharing several probed buckets
    * recomputes its cosine up to nprobe² times — bounded, branch-free
    * codegen'd arithmetic, strictly cheaper than shipping the vectors. */
  /** The IVF sizing rule for DEDUP (all-pairs-inside-a-bucket work,
    * unlike search where C ~ √n balances probe cost): candidate volume
    * is ~C·occ²/2 with occupancy occ = n·nprobe/C, so holding occ
    * CONSTANT (C ∝ n) makes total candidate work LINEAR in the corpus —
    * the only sizing that survives unbounded growth. The occupancy
    * target is the recall dial (finer partitions split more true
    * pairs): measured at sf1 (n=8000, τ=0.4, nprobe=4), occ 4000
    * (C=16) → recall 0.94, occ 1000 (C=32) → 0.82, occ 500 (C=64) →
    * 0.68. Default 1000 holds the ≥ 0.8 bar on the loosest graph the
    * suite runs; tight-τ dedup (SemDeDup's real 0.9+ regime, where
    * pairs co-locate) tolerates smaller cells. The floor of 16 leaves
    * test-scale corpora (n ≤ 2000) at the recall/parity-pinned C the
    * spec measures. */
  def adaptiveClusters(n: Long, nprobe: Int, targetCell: Int = 1000): Int =
    math.max(16, math.ceil(nprobe * n.toDouble / targetCell).toInt)

  /** `corpusDir`, when set, memoizes the IVF centroid build per corpus
    * (AnnIvf.centroidsCached) — the candidate generator then shares the
    * session's index with every other consumer of the same (corpus, C),
    * e.g. the ANN search entry. Pass the dir `embs` was read from; unset
    * = build fresh (derived or in-memory inputs). */
  def annEdges(spark: SparkSession, embs: DataFrame, threshold: Double,
               numClusters: Int = -1, nprobe: Int = 2,
               corpusDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    // the adaptive cell count needs n; memoize it with the centroids so
    // a shared-index call doesn't pay a count job just to re-derive the
    // same C
    val c = if (numClusters > 0) numClusters
            else adaptiveClusters(corpusDir match {
              case Some(dir) => graft.util.CorpusMemo.get(spark, dir, "semdedup/count")(embs.count())
              case None => embs.count()
            }, nprobe)
    val cents = corpusDir match {
      case Some(dir) =>
        AnnIvf.centroidsCached(spark, embs, c, AnnIvf.DefaultIters, dir)
      case None => AnnIvf.centroids(spark, embs, c)
    }
    // deliberately NOT persisted: assignTop is an exchange-free
    // projection over the scan (the centroids ride in as a literal), so
    // recomputing it per join side costs one extra scan — cheaper than
    // a cache entry that outlives the call (the q33/q34 lesson)
    val indexed = AnnIvf.assignTop(spark, embs, cents, nprobe)
      .withColumn("nrm", Vectors.norm($"embedding"))
    val l = indexed.select($"cluster_id", $"vec_id".as("a_id"),
      $"embedding".as("ea"), $"nrm".as("na"))
    val r = indexed.select($"cluster_id", $"vec_id".as("b_id"),
      $"embedding".as("eb"), $"nrm".as("nb"))
    l.join(r, "cluster_id")
      .filter($"a_id" < $"b_id" &&
        Vectors.cosineWithNorms($"ea", $"eb", $"na", $"nb") >= threshold)
      .select($"a_id", $"b_id")
      .distinct()
  }

  /** Components over either edge set: (vec_id, cluster_id, is_kept). */
  def components(spark: SparkSession, embs: DataFrame, edges: DataFrame): DataFrame = {
    import spark.implicits._
    DedupClusters.assign(embs.select($"vec_id".as("doc_id")), edges)
      .select($"doc_id".as("vec_id"), $"cluster_id",
        ($"doc_id" === $"cluster_id").cast("long").as("is_kept"))
  }
}
