package graft.queries

import graft.Tables
import graft.functions.{Text, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operators (SURVEY.md §2.4) over `documents` and
  * `embeddings` — dedup, text analysis, similarity search.
  *
  * Oracle parity notes: DuckDB regexp_replace needs the 'g' flag to match
  * Spark's global-by-default semantics; list folds are double-accumulated
  * on both sides; thresholds sit far from any pair's cosine so last-ulp
  * noise can't flip membership.
  */
object Docs {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "embeddings")

  /** Oracle prelude: normalized document text. */
  private val normCte =
    """WITH nd AS (SELECT doc_id, lang, source,
      |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm, text
      |  FROM documents)""".stripMargin

  /** Oracle prelude shared by the CDC family (d71 chunking, d76
    * boilerplate removal): token positions with Rabin-style boundary
    * flags and the running chunk index. One definition so the two
    * entries cannot drift on the chunking rule. */
  private val cdcCte =
    s"""$normCte,
       |tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM nd
       |  WHERE length(norm) > 0),
       |p0 AS (SELECT doc_id, toks, unnest(range(len(toks))) AS pos FROM tk),
       |pos AS (SELECT doc_id, pos, toks[pos+1] AS tok,
       |    CASE WHEN pos >= 3 AND substr(md5(
       |      array_to_string(toks[pos-2:pos+1], ' ')), 1, 1) < '2'
       |    THEN 1 ELSE 0 END AS bnd
       |  FROM p0),
       |ck AS (SELECT doc_id, pos, tok,
       |    COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
       |  FROM pos)""".stripMargin

  /** Oracle prelude shared by the quality-scoring consumers (d61
    * budget selection, d79 cross-source calibration): the integer-bp
    * quality score (length + punctuation + stopword components, all
    * integer division). One definition so the score cannot drift. */
  private val qualityCte =
    s"""$normCte,
       |t AS (SELECT doc_id, source,
       |    len(string_split(norm, ' ')) AS n_tok,
       |    length(norm) AS chars,
       |    length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) AS punct,
       |    len(list_filter(string_split(norm, ' '), x -> x IN ('the', 'a'))) AS stop
       |  FROM nd WHERE length(norm) > 0),
       |q AS (SELECT doc_id, source, n_tok,
       |    30 * LEAST(n_tok, 100) + (chars - punct) * 3000 // chars
       |      + stop * 4000 // n_tok AS q_bp FROM t)""".stripMargin

  /** Spark twin of [[qualityCte]]: (doc_id, source, n_tok, q_bp). */
  private def qualityScores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val norm = Text.normalize($"text")
    docs(s, dir)
      .select($"doc_id", $"source", norm.as("norm"))
      .filter(length($"norm") > 0)
      .select($"doc_id", $"source",
        size(split($"norm", " ")).cast("long").as("n_tok"),
        length($"norm").cast("long").as("chars"),
        length(regexp_replace($"norm", "[a-z0-9 ]", "")).cast("long").as("punct"),
        size(filter(split($"norm", " "),
          x => x.isin(stopwords.map(lit(_)): _*))).cast("long").as("stop"))
      .select($"doc_id", $"source", $"n_tok",
        (lit(30L) * least($"n_tok", lit(100L)) +
          expr("(chars - punct) * 3000 div chars") +
          expr("stop * 4000 div n_tok")).as("q_bp"))
  }

  /** (doc_id, text) rows → (doc_id, w1, w2, w3) trigram-position rows,
    * derived MAP-SIDE from shifted slices of the token array (zero
    * exchanges — the posexplode + two-lag window form costs a doc_id
    * shuffle and a per-doc sort for triples that are a pure projection
    * of the row). ONE definition shared by d82's batch eval side, s28's
    * stream side, and the training counts below: triples cannot drift
    * between the three. */
  private[queries] def lmPositions(withText: DataFrame): DataFrame = {
    import withText.sparkSession.implicits._
    withText
      .select($"doc_id", Text.tokens($"text").as("tk"))
      .filter(size($"tk") >= 3)
      .select($"doc_id", explode(arrays_zip(
        slice($"tk", lit(1), size($"tk") - 2).as("w1"),
        slice($"tk", lit(2), size($"tk") - 2).as("w2"),
        slice($"tk", lit(3), size($"tk") - 2).as("w3"))).as("t"))
      .select($"doc_id", $"t.w1", $"t.w2", $"t.w3")
  }

  /** d82's trigram-LM count tables, trained on the doc_id ≥ 100 slice:
    * (unigram c1, bigram big, trigram tri, the 1-row add-1 mass M =
    * N+V+1). ONE definition shared by the batch scorer (d82) and the
    * streaming gate (s28) — the model the stream scores against must
    * be bit-identical to the batch one. All three n-gram counts derive
    * map-side from shifted slices of the per-doc token array (the
    * [[lmPositions]] shape): the only exchanges are the three partial
    * count aggregates themselves, and the persisted training
    * intermediate is ONE ARRAY ROW PER DOC, not a row per token (the
    * r10 rework; the posexplode + lag-window form paid a doc_id
    * shuffle + per-doc sort and pinned a token-level cache). The mass
    * row M rides on c1 (total = SUM c, vocab = row count) instead of
    * re-scanning the corpus. */
  /** @param materialize false (d82's single-job shape): the four count
    *        tables come back lazy, sharing the persisted token-array
    *        intermediate that Spark frees with the session cache.
    *        true (s28's stream-static shape): the MODEL tables are
    *        persisted and eagerly counted, and the corpus-sized
    *        token-array intermediate is unpersisted before returning —
    *        a stream-static join replans the static side every
    *        micro-batch, so the drain should join four small cached
    *        tables, not keep the training corpus pinned in executor
    *        storage. */
  private[queries] def lmCounts(s: SparkSession, dir: String,
      materialize: Boolean = false)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val tk = docs(s, dir).filter($"doc_id" >= 100)
      .select(Text.tokens($"text").as("tk"))
      .persist() // unigram, bigram, and trigram passes
    val c1 = tk.select(explode($"tk").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
    // N + V + 1 from the unigram table: total tokens = SUM(c), vocab =
    // row count — vocab-bounded, no extra corpus pass
    val st = c1.agg((sum($"c") + count(lit(1)) + 1).as("m"))
    val big = tk.filter(size($"tk") >= 2)
      .select(explode(arrays_zip(
        slice($"tk", lit(1), size($"tk") - 1).as("t1"),
        slice($"tk", lit(2), size($"tk") - 1).as("t2"))).as("g"))
      .groupBy($"g.t1".as("t1"), $"g.t2".as("t2")).agg(count(lit(1)).as("c"))
    val tri = tk.filter(size($"tk") >= 3)
      .select(explode(arrays_zip(
        slice($"tk", lit(1), size($"tk") - 2).as("t1"),
        slice($"tk", lit(2), size($"tk") - 2).as("t2"),
        slice($"tk", lit(3), size($"tk") - 2).as("t3"))).as("g"))
      .groupBy($"g.t1".as("t1"), $"g.t2".as("t2"), $"g.t3".as("t3"))
      .agg(count(lit(1)).as("c"))
    if (materialize) {
      val model = Seq(c1, big, tri, st).map(_.persist())
      // Two-phase eager build: ONE pass materializes the corpus-sized
      // token-array cache, c1 fills next (st reads ITS cache, not the
      // corpus), then the remaining counts run CONCURRENTLY against
      // the warm array cache. Counting cold-and-concurrent instead
      // would duplicate the corpus work (concurrent jobs each compute
      // an uncached partition; the cache dedupes storage, not
      // computation) — measured 1.5x slower than even the sequential
      // build in the lag-window era.
      tk.count()
      model(0).count()
      val threads = Seq(model(1), model(2), model(3))
        .map(m => new Thread(() => { m.count(): Unit }))
      threads.foreach(_.start()); threads.foreach(_.join())
      tk.unpersist()
      (model(0), model(1), model(2), model(3))
    } else (c1, big, tri, st)
  }

  /** d82's per-doc scorer over (doc_id, w1, w2, w3) trigram-position
    * rows: joins the [[lmCounts]] tables by gram key and folds each
    * position's exact inverse probability (ONE DECIMAL(38,0) floor
    * division over the interpolation's common denominator) into
    * (doc_id, n_pos, mean_inv). Shared verbatim by d82 and s28 — the
    * arithmetic cannot drift between batch and stream. */
  private[queries] def lmScore(positions: DataFrame, c1: DataFrame,
      big: DataFrame, tri: DataFrame, st: DataFrame): DataFrame = {
    import positions.sparkSession.implicits._
    positions.crossJoin(broadcast(st))
      .join(tri.select($"t1".as("w1"), $"t2".as("w2"), $"t3".as("w3"),
        $"c".as("c3")), Seq("w1", "w2", "w3"), "left")
      .join(big.select($"t1".as("w1"), $"t2".as("w2"), $"c".as("cb")),
        Seq("w1", "w2"), "left")
      .join(big.select($"t1".as("w2"), $"t2".as("w3"), $"c".as("cn")),
        Seq("w2", "w3"), "left")
      .join(c1.select($"tok".as("w2"), $"c".as("cp")), Seq("w2"), "left")
      .join(c1.select($"tok".as("w3"), $"c".as("cw")), Seq("w3"), "left")
      .select($"doc_id",
        greatest(coalesce($"cb", lit(0L)), lit(1L)).as("c2ctx"),
        greatest(coalesce($"cp", lit(0L)), lit(1L)).as("c1prev"),
        coalesce($"c3", lit(0L)).as("c3"),
        coalesce($"cn", lit(0L)).as("c2"),
        coalesce($"cw", lit(0L)).as("c1w"), $"m")
      .withColumn("inv",
        expr("""(CAST(10 AS DECIMAL(38,0)) * c2ctx * c1prev * m)
               | div (CAST(7 AS DECIMAL(38,0)) * c3 * c1prev * m
               |   + CAST(2 AS DECIMAL(38,0)) * c2 * c2ctx * m
               |   + CAST(c1w + 1 AS DECIMAL(38,0)) * c2ctx * c1prev)"""
          .stripMargin))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_pos"),
        expr("CAST(sum(inv) div count(1) AS BIGINT)").as("mean_inv"))
  }

  /** d80's oracle pipeline through the verified hamming pairs (`ham`):
    * square thumbnail (exact ±1-fixed integer sqrt side), the d60 8×8
    * area pooling, aHash bits, 8×8-bit bands, the MaxBucket=1000
    * degenerate cap, and bit_count(xor) hamming per band-sharing pair.
    * Declared RECURSIVE so d85 can append its componentization CTE.
    * ONE definition shared by d80 (pairs) and d85 (clusters). */
  private val phashCtes =
    """WITH RECURSIVE img AS (
      |  SELECT doc_id, text, length(text) AS n,
      |    CASE WHEN (CAST(floor(sqrt(CAST(length(text) AS DOUBLE))) AS BIGINT)-1)
      |              * (CAST(floor(sqrt(CAST(length(text) AS DOUBLE))) AS BIGINT)-1) >= length(text)
      |         THEN CAST(floor(sqrt(CAST(length(text) AS DOUBLE))) AS BIGINT)-1
      |         WHEN CAST(floor(sqrt(CAST(length(text) AS DOUBLE))) AS BIGINT)
      |              * CAST(floor(sqrt(CAST(length(text) AS DOUBLE))) AS BIGINT) >= length(text)
      |         THEN CAST(floor(sqrt(CAST(length(text) AS DOUBLE))) AS BIGINT)
      |         ELSE CAST(floor(sqrt(CAST(length(text) AS DOUBLE))) AS BIGINT)+1 END AS s
      |  FROM documents WHERE doc_id % 3 = 0
      |    AND strlen(text) = length(text)),
      |px AS (
      |  SELECT doc_id, ord(substr(text, CAST(p+1 AS INT), 1)) AS v,
      |         p // s AS prow, p % s AS pcol
      |  FROM img, UNNEST(generate_series(0, length(text)-1)) AS t(p)),
      |ri AS (SELECT doc_id, i, i*s//8 AS r0, GREATEST(i*s//8+1,(i+1)*s//8) AS r1
      |       FROM img, UNNEST(generate_series(0,7)) AS gi(i)),
      |ci AS (SELECT doc_id, j, j*s//8 AS c0, GREATEST(j*s//8+1,(j+1)*s//8) AS c1
      |       FROM img, UNNEST(generate_series(0,7)) AS gj(j)),
      |cellsum AS (
      |  SELECT px.doc_id, ri.i, ci.j, SUM(px.v) AS sm
      |  FROM px
      |  JOIN ri ON px.doc_id=ri.doc_id AND px.prow>=ri.r0 AND px.prow<ri.r1
      |  JOIN ci ON px.doc_id=ci.doc_id AND px.pcol>=ci.c0 AND px.pcol<ci.c1
      |  GROUP BY 1,2,3),
      |cells AS (
      |  SELECT img.doc_id, ri.i*8+ci.j AS cell,
      |    COALESCE(cs.sm,0) // ((ri.r1-ri.r0)*(ci.c1-ci.c0)) AS value
      |  FROM img JOIN ri USING(doc_id) JOIN ci USING(doc_id)
      |  LEFT JOIN cellsum cs ON cs.doc_id=img.doc_id AND cs.i=ri.i AND cs.j=ci.j),
      |tot AS (SELECT doc_id, SUM(value) AS tot FROM cells GROUP BY 1),
      |bits AS (SELECT c.doc_id, c.cell,
      |    CASE WHEN 64*c.value > t.tot THEN 1 ELSE 0 END AS bit
      |  FROM cells c JOIN tot t USING(doc_id)),
      |bands AS (SELECT doc_id, cell//8 AS band_idx,
      |    CAST(SUM(bit << (cell % 8)) AS BIGINT) AS band_val
      |  FROM bits GROUP BY 1,2),
      |bsz AS (SELECT band_idx, band_val, COUNT(*) AS sz FROM bands GROUP BY 1,2),
      |ok AS (SELECT b.* FROM bands b JOIN bsz USING(band_idx, band_val)
      |       WHERE sz <= 1000),
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM ok a JOIN ok b ON a.doc_id < b.doc_id
      |    AND a.band_idx = b.band_idx AND a.band_val = b.band_val),
      |ham AS (SELECT c.a_id, c.b_id,
      |    CAST(SUM(bit_count(xor(a.band_val, b.band_val))) AS BIGINT) AS hamming
      |  FROM cand c JOIN bands a ON a.doc_id = c.a_id
      |  JOIN bands b ON b.doc_id = c.b_id AND b.band_idx = a.band_idx
      |  GROUP BY 1,2)""".stripMargin

  /** Spark twin of [[phashCtes]]: the verified near-dup image pairs
    * (a_id, b_id, hamming ≤ 10). Square codec stub (side = ceil(√bytes),
    * the same ±1-fixed integer sqrt as the oracle; the corpus is ASCII
    * so chars == bytes), d60's shared pooling, aHash, banding under the
    * d6-style degenerate cap, exact bit_count(xor) verify. Only the
    * 8-byte fingerprints shuffle — never pixels. */
  private def phashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Multimodal
    val n = length($"text")
    val s0 = floor(sqrt(n.cast("double"))).cast("long")
    val side = when((s0 - 1) * (s0 - 1) >= n, s0 - 1)
      .when(s0 * s0 >= n, s0)
      .otherwise(s0 + 1)
      .cast("int")
    // Enforce the stated all-ASCII invariant rather than assume it: the
    // oracle pools CHARACTER code points (ord/length) while this side
    // pools raw UTF-8 BYTES — they agree only when bytes == chars. The
    // identical filter on both sides (oracle: strlen(text)=length(text))
    // turns the comment-level assumption into a checked contract: a
    // non-ASCII document is excluded by BOTH engines instead of
    // silently breaking parity.
    val sq = docs(s, dir).filter(pmod($"doc_id", lit(3)) === 0)
      .filter(octet_length($"text") === length($"text"))
      .select($"doc_id", lit("image").as("media_type"),
        side.as("width"), side.as("height"),
        encode($"text", "UTF-8").as("payload"))
      .as[Multimodal.MediaRecord]
    val grid = Multimodal.resizeToGrid(sq, side = 8).toDF()
    // aHash as ONE 64-bit fingerprint per doc, computed MAP-SIDE with
    // higher-order functions (bit i = 64·v_i > Σv, packed at bit i);
    // bands are shifted byte views of it — d7's simhash discipline
    // exactly: the full fingerprint rides WITH each band row, so the
    // verify needs no join back to anything. The r8 shape instead
    // built band bytes via a per-(doc, band) aggregate and re-joined
    // 8 band rows per candidate side for the hamming SUM — with a
    // capped-but-fat degenerate bucket (857 docs → 367k candidates at
    // sf0.1) that re-join was the pipeline's dominant stage (~3 s of
    // the entry's 3.5; the pooling the r8 notes blamed is <0.1 s).
    val hashed = grid
      .withColumn("tot", aggregate($"grid", lit(0L), _ + _))
      .withColumn("h64", expr(
        """aggregate(zip_with(grid, sequence(0L, 63L),
          |  (v, i) -> IF(64 * v > tot, shiftleft(1L, CAST(i AS INT)), 0L)),
          |  0L, (acc, x) -> acc + x)""".stripMargin))
    val bandIdx = posexplode(sequence(lit(0L), lit(7L)))
    val bands = hashed
      .select($"doc_id", $"h64", bandIdx.as(Seq("ord", "band_idx")))
      .select($"doc_id", $"h64", $"band_idx",
        expr("shiftright(h64, CAST(band_idx * 8 AS INT)) & 255").as("band_val"))
      .persist() // feeds the cap census and the candidate self-join
    val bsz = bands.groupBy($"band_idx", $"band_val")
      .agg(count(lit(1)).as("sz"))
    val ok = bands.join(bsz.filter($"sz" <= 1000), Seq("band_idx", "band_val"))
    // candidate pairs dedup through the same aggregate that carries the
    // fingerprints (a pair appears once per shared band; min = the one
    // value) — hamming is then a map-side XOR + bit_count, identical by
    // construction to summing per-band bit_counts.
    ok.select($"band_idx", $"band_val", $"doc_id".as("a_id"), $"h64".as("ha"))
      .join(ok.select($"band_idx", $"band_val", $"doc_id".as("b_id"),
        $"h64".as("hb")), Seq("band_idx", "band_val"))
      .filter($"a_id" < $"b_id")
      .groupBy($"a_id", $"b_id")
      .agg(min($"ha").as("ha"), min($"hb").as("hb"))
      .select($"a_id", $"b_id",
        expr("CAST(bit_count(ha ^ hb) AS BIGINT)").as("hamming"))
      .filter($"hamming" <= 10)
  }

  /** Spark twin of [[cdcCte]]: the per-chunk rollup (doc_id, chunk_idx,
    * start, len, txt) both CDC consumers build on. Boundary flags are a
    * map-side md5 projection; the chunk index is one prefix-sum window
    * over the doc_id exchange; the rollup rides the same partitioning.
    * Chunk text is bounded by the CDC cut rate (expected 8 tokens), so
    * carrying it is O(corpus), never O(doc). */
  private def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tk = docs(s, dir)
      .filter(length(Text.normalize($"text")) > 0)
      .select($"doc_id", Text.tokens($"text").as("toks"))
    val pos = tk
      .select($"doc_id", $"toks", posexplode($"toks").as(Seq("pos", "tok")))
      .select($"doc_id", $"pos", $"tok",
        when($"pos" >= 3 && substring(md5(concat_ws(" ",
          slice($"toks", $"pos" - 2, lit(4))).cast("binary")), 1, 1) < "2",
          1L).otherwise(0L).as("bnd"))
    val wPre = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    pos
      .withColumn("chunk_idx", coalesce(sum($"bnd").over(wPre), lit(0L)))
      .groupBy($"doc_id", $"chunk_idx")
      .agg(min($"pos").cast("long").as("start"), count(lit(1)).as("len"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct($"pos", $"tok"))), x => x.getField("tok")))
          .as("txt"))
  }

  /** d45's oracle: the k-round BPE merge loop unrolled into a CTE
    * chain — per round, a pair count over the current tokenization, the
    * (n desc, pair asc) argmax, and the greedy rewrite as the SAME
    * double-space literal replace the Spark operator runs (see
    * BpeTrain's scaladoc for why left-to-right non-overlapping replace
    * on the doubled form IS greedy BPE). Exhaustion-guarded like the
    * operator: a round with no adjacent pair left (m$r empty) rewrites
    * nothing (COALESCE to a chr(1) pattern that never occurs — NULL
    * would otherwise NULL-propagate through replace and wipe the
    * corpus) and emits no row, so operator and oracle agree on
    * degenerate/tiny corpora that exhaust before k rounds.
    *
    * m$r/d$r are declared MATERIALIZED: each is consumed by several
    * downstream CTEs, and left to its own inlining heuristic DuckDB
    * re-expands the whole chain per consumer — measured ~10× slowdown
    * per round (exponential in k) on small inline tables. */
  /** The shared k-round WITH-chain (normCte + d0..dk, m1..mk, c1..ck);
    * d$r carries doc_id so per-doc consumers (d47) can join the final
    * corpus back to the original. */
  private def bpeRoundsCte(k: Int): String = {
    val sb = new StringBuilder(normCte)
    sb.append(",\nd0 AS (SELECT doc_id, norm AS s FROM nd WHERE length(norm) > 0)")
    for (r <- 1 to k) {
      val prev = s"d${r - 1}"
      sb.append(s""",
        |p$r AS (SELECT pair, COUNT(*) AS n FROM (
        |  SELECT unnest(list_transform(range(0, len(toks) - 1),
        |      i -> toks[i+1] || ' ' || toks[i+2])) AS pair
        |  FROM (SELECT string_split(s, ' ') AS toks FROM $prev) t$r
        |  WHERE len(toks) >= 2) u$r GROUP BY pair),
        |m$r AS MATERIALIZED (SELECT pair, n FROM p$r ORDER BY n DESC, pair LIMIT 1),
        |d$r AS MATERIALIZED (SELECT doc_id, trim(replace(replace(
        |    ' ' || replace(s, ' ', '  ') || ' ',
        |    COALESCE((SELECT ' ' || replace(pair, ' ', '  ') || ' ' FROM m$r), chr(1)),
        |    COALESCE((SELECT ' ' || replace(pair, ' ', '+') || ' ' FROM m$r), chr(1))),
        |  '  ', ' ')) AS s FROM $prev),
        |c$r AS (SELECT SUM(len(string_split(s, ' '))) AS ntok FROM d$r)""".stripMargin)
    }
    sb.toString
  }

  private def bpeOracleSql(k: Int): String = {
    val sb = new StringBuilder(bpeRoundsCte(k))
    sb.append("\nSELECT * FROM (")
    sb.append((1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS step, (SELECT pair FROM m$r) AS pair, " +
        s"(SELECT CAST(n AS BIGINT) FROM m$r) AS n, " +
        s"(SELECT CAST(ntok AS BIGINT) FROM c$r) AS n_corpus_tokens " +
        s"WHERE EXISTS (SELECT 1 FROM m$r)").mkString(" UNION ALL "))
    sb.append(") z ORDER BY step")
    sb.toString
  }

  /** d46's oracle: integer-lattice Lloyd unrolled — quantize
    * (floor((x+1)·2^20), exact FP ops both engines), then per round an
    * argmin assignment in BIGINT squared-L2 and a centroid update
    * re-rounded to the lattice by round-half-up integer division (all
    * coordinates non-negative, so `//` floor-division equals Spark's
    * truncating `div`). Final output = the assignment against the
    * centroids after `iters` updates, exactly KMeans.fit's shape. An
    * emptied cluster keeps its previous centroid (the LEFT JOIN
    * COALESCE), as in the operator. a/c CTEs MATERIALIZED (the d45
    * lesson: DuckDB's inlining heuristic re-expands chained CTE
    * consumers exponentially on small tables). */
  /** The shared Lloyd WITH-chain (qv, c0, a1..a{iters+1}, c1..c{iters});
    * `a${iters+1}` (rn=1) is the final assignment — consumed by d46's
    * oracle directly and by d68's cluster-balanced sampler. With
    * `normalized = true` the lattice quantizes x/|x| instead of x
    * (AnnIvf's build: on the unit sphere integer L2 order tracks cosine
    * order) — the norm is the same index-ascending double fold as nv's.
    * `recursive = true` emits WITH RECURSIVE so a consumer (d44) can
    * append a connected-components CTE. */
  /** @param k the seed-CTE LIMIT: a literal count ("8"), or any SQL
    *        expression DuckDB accepts in LIMIT — d44 passes a subquery
    *        replaying SemDedup.adaptiveClusters so the oracle's cluster
    *        count tracks the corpus size exactly like the operator's. */
  private def kmeansCtes(k: String, iters: Int, normalized: Boolean = false,
                         recursive: Boolean = false): String = {
    val sb = new StringBuilder
    val rec = if (recursive) "RECURSIVE " else ""
    if (normalized)
      sb.append(
        s"""WITH ${rec}qv AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
           |    x -> CAST(floor((CAST(x AS DOUBLE) / nrm + 1.0) * 1048576.0) AS BIGINT)) AS q
           |  FROM (SELECT vec_id, embedding,
           |      sqrt(list_sum(list_transform(range(len(embedding)),
           |        i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)))) AS nrm
           |    FROM embeddings) z),
           |c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, q AS c
           |  FROM qv ORDER BY vec_id LIMIT $k)""".stripMargin)
    else
      sb.append(
        s"""WITH ${rec}qv AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
           |    x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1048576.0) AS BIGINT)) AS q
           |  FROM embeddings),
           |c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, q AS c
           |  FROM qv ORDER BY vec_id LIMIT $k)""".stripMargin)
    // round r: a$r assigns against c${r-1}; c$r is the lattice-rounded
    // update; one extra assignment a${iters+1} produces the output
    for (r <- 1 to iters + 1) {
      val prev = s"c${r - 1}"
      sb.append(s""",
        |a$r AS MATERIALIZED (SELECT vec_id, q, k, d2,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
        |  FROM (SELECT qv.vec_id, qv.q, c.k,
        |      list_sum(list_transform(range(len(qv.q)),
        |        i -> (qv.q[i+1] - c.c[i+1]) * (qv.q[i+1] - c.c[i+1]))) AS d2
        |    FROM qv CROSS JOIN $prev c) t$r)""".stripMargin)
      if (r <= iters) sb.append(s""",
        |x$r AS (SELECT k, unnest(list_transform(range(len(q)),
        |    i -> struct_pack(i := i, v := q[i+1]))) AS u
        |  FROM a$r WHERE rn = 1),
        |c$r AS MATERIALIZED (SELECT p.k, COALESCE(n.c, p.c) AS c
        |  FROM $prev p LEFT JOIN (
        |    SELECT k, list(CAST((2*s + n) // (2*n) AS BIGINT) ORDER BY i) AS c
        |    FROM (SELECT k, u.i AS i, SUM(u.v) AS s, COUNT(*) AS n
        |      FROM x$r GROUP BY k, u.i) s$r GROUP BY k) n ON n.k = p.k)""".stripMargin)
    }
    sb.toString
  }

  private def kmeansOracleSql(k: Int, iters: Int): String =
    kmeansCtes(k.toString, iters) + s"""
      |SELECT vec_id, CAST(k AS BIGINT) AS cluster_id, CAST(d2 AS BIGINT) AS dist2
      |FROM a${iters + 1} WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** Inline (vec_id, embedding, nrm) fragment for the ANN oracles —
    * the nv prelude re-stated as an appendable CTE body. */
  private val nvBody =
    """(SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(range(len(embedding)),
      |      i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)))) AS nrm
      |  FROM embeddings)""".stripMargin

  /** d11's oracle: the WHOLE IVF pipeline replayed bit-for-bit —
    * normalized-lattice seeds + `iters` integer Lloyd rounds
    * (kmeansCtes), integer-argmin index (a{iters+1} rn=1), integer
    * probe ranking (rn <= nprobe; the rn order (d2, k) IS assignTop's
    * (dist2, cid) sort), then exact double cosine top-k over the
    * probed clusters — the d10 scorer on the candidate subset. */
  private def ivfOracleSql(k: Int, iters: Int, nprobe: Int, topK: Int): String = {
    val fin = s"a${iters + 1}"
    kmeansCtes(k.toString, iters, normalized = true) + s""",
      |nv2 AS $nvBody,
      |idx AS (SELECT vec_id, k FROM $fin WHERE rn = 1),
      |probes AS (SELECT vec_id AS q_id, k FROM $fin
      |  WHERE vec_id < 10 AND rn <= $nprobe),
      |cand AS (SELECT p.q_id, i.vec_id AS neighbor_id
      |  FROM probes p JOIN idx i ON i.k = p.k AND i.vec_id <> p.q_id),
      |sc AS (SELECT c.q_id, c.neighbor_id,
      |    ${dotSql("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS cos
      |  FROM cand c JOIN nv2 q ON q.vec_id = c.q_id
      |  JOIN nv2 n ON n.vec_id = c.neighbor_id),
      |rkd AS (SELECT q_id, neighbor_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk
      |  FROM sc)
      |SELECT q_id, neighbor_id, ROUND(cos, 6) AS cos, rk
      |FROM rkd WHERE rk <= $topK ORDER BY q_id, rk""".stripMargin
  }

  /** d44's oracle: SemDedup's ANN scale path replayed — multi-probe
    * lattice buckets (a{iters+1} rn <= nprobe), candidate pairs only
    * inside a shared bucket, exact double cosine verify, then the
    * d38-style transitive-closure componentization (min reachable id). */
  private def semdedupAnnOracleSql(iters: Int, nprobe: Int,
                                   threshold: Double): String = {
    val fin = s"a${iters + 1}"
    // the cluster count replays SemDedup.adaptiveClusters(n, nprobe)
    // IN SQL (subquery LIMIT over the quantized-vector CTE), so the
    // oracle tracks the operator's adaptive C at ANY corpus size — a
    // pinned literal silently diverged past n = 4000
    val kSql = s"(SELECT GREATEST(16, CAST(ceil($nprobe * COUNT(*) / 1000.0) AS BIGINT)) FROM qv)"
    kmeansCtes(kSql, iters, normalized = true, recursive = true) + s""",
      |nv2 AS $nvBody,
      |tops AS (SELECT vec_id, k FROM $fin WHERE rn <= $nprobe),
      |pr AS (SELECT DISTINCT l.vec_id AS a_id, r.vec_id AS b_id
      |  FROM tops l JOIN tops r ON r.k = l.k AND l.vec_id < r.vec_id
      |  JOIN nv2 a ON a.vec_id = l.vec_id JOIN nv2 b ON b.vec_id = r.vec_id
      |  WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $threshold),
      |e AS (SELECT a_id AS src, b_id AS dst FROM pr
      |  UNION ALL SELECT b_id, a_id FROM pr),
      |reach AS (SELECT vec_id AS a, vec_id AS b FROM nv2
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
      |lab AS (SELECT a AS vec_id, MIN(b) AS cluster_id FROM reach GROUP BY a)
      |SELECT vec_id, cluster_id,
      |  CAST(CASE WHEN vec_id = cluster_id THEN 1 ELSE 0 END AS BIGINT) AS is_kept
      |FROM lab ORDER BY vec_id""".stripMargin
  }

  /** Oracle prelude: embeddings with exact double norms. */
  private val nvCte =
    """WITH nv AS (SELECT vec_id, label, embedding,
      |  sqrt(list_sum(list_transform(range(len(embedding)),
      |       i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)))) AS nrm
      |  FROM embeddings)""".stripMargin

  private def dotSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(len($a)),
       |    i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)))""".stripMargin

  /** Oracle prelude for the exact-Jaccard family (d18/d13/d17): word
    * 3-shingle sets (the DuckDB twin of Text.wordShingles) and the
    * brute-force all-pairs Jaccard at threshold 0.5. Declared
    * RECURSIVE so d13/d17 can append a connected-components CTE. */
  private val simCte =
    """WITH RECURSIVE nd AS (SELECT doc_id, lang,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
      |tk AS (SELECT doc_id, lang, string_split(norm, ' ') AS toks FROM nd),
      |shg AS (SELECT doc_id, lang, list_distinct(list_transform(
      |    range(0, greatest(len(toks) - 3, 0) + 1),
      |    i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM tk),
      |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |    CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
      |  FROM shg a JOIN shg b ON a.doc_id < b.doc_id)""".stripMargin

  /** d13/d17 oracle tail: undirected edges at jaccard>=0.5, transitive
    * closure by recursive CTE, min reachable doc_id = cluster label. */
  private val ccCte =
    """e AS (SELECT a_id AS src, b_id AS dst FROM pr WHERE jaccard >= 0.5
      |  UNION ALL SELECT b_id, a_id FROM pr WHERE jaccard >= 0.5),
      |reach AS (SELECT doc_id AS a, doc_id AS b FROM nd
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
      |lab AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a)""".stripMargin

  private val stopwords = Seq("the", "a")

  // ---- MinHash-LSH parameters (d6/d8): see LshParams (Registry.scala)
  // — shared with the s11 streaming gate so the two cannot drift.
  private val MinhashPerms = LshParams.Perms
  private val MinhashBands = LshParams.Bands
  private val MinhashRows = LshParams.Rows
  private val MinhashSeed = LshParams.Seed
  private val ShingleK = 3
  private val MaxBucket = LshParams.MaxBucket

  /** doc_id → sorted distinct xxhash64'd word-3-shingle set (the unit
    * of Jaccard — counts over distinct hashes equal counts over the
    * strings, and every consumer only needs counts or join keys, so the
    * single-pass native expression replaces the interpreted build of
    * every shingle string). Repartitioned first: the local corpus is
    * one parquet split, which would serialize the shingle+signature
    * computation on a single core (on a cluster the scan arrives
    * pre-split; the repartition then just rebalances). */
  private def shingleSets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = s.conf.get("spark.sql.shuffle.partitions").toInt
    docs(s, dir).repartition(p)
      .select($"doc_id", Text.shingleHashes($"text", ShingleK).as("sh"))
  }

  /** MinHash-LSH candidate pairs: sig → band hashes → bucket self-join.
    * Scale shape: the only shuffles are keyed on the 8-byte (band_idx,
    * band_hash) bucket id and then the (a_id, b_id) pair — document text
    * never crosses the wire past the signature projection. */
  private def minhashCandidates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sig = shingleSets(s, dir).select($"doc_id",
      call_function("minhash_sig", $"sh",
        lit(MinhashPerms), lit(MinhashSeed)).as("sig"))
    val bandCols = (0 until MinhashBands).map { b =>
      hash(slice($"sig", b * MinhashRows + 1, MinhashRows)).cast("long")
    }
    // persist the banded signatures: three plan branches (bucket sizing +
    // both self-join sides) would otherwise each re-run the shingle →
    // hash → signature pipeline — at scale this is "materialize the
    // signature table once, join against it".
    val banded = sig
      .select($"doc_id", posexplode(array(bandCols: _*)))
      .toDF("doc_id", "band_idx", "band_hash")
      .persist()
    val buckets = banded.groupBy($"band_idx", $"band_hash")
      .agg(count(lit(1)).as("bn"))
      .filter($"bn".between(2L, MaxBucket))
    val inBucket = banded.join(buckets, Seq("band_idx", "band_hash"))
      .select($"band_idx", $"band_hash", $"doc_id")
      .persist()
    val l = inBucket.select($"band_idx", $"band_hash", $"doc_id".as("a_id"))
    val r = inBucket.select($"band_idx", $"band_hash", $"doc_id".as("b_id"))
    l.join(r, Seq("band_idx", "band_hash"))
      .filter($"a_id" < $"b_id")
      .groupBy($"a_id", $"b_id")
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** The distributed exact-Jaccard>=0.5 self-join — d18's own entry
    * uses THIS (never the memo below): its semantic is the join itself,
    * its plan guard pins the broadcast shape, and its measurement is
    * the suite's honest cost of one edge-set build. */
  private def jaccardJoin(s: SparkSession, dir: String): DataFrame =
    graft.operators.SimilarityJoin.jaccard(
      shingleSets(s, dir), "doc_id", "sh", 0.5)

  /** Session memo of the exact near-dup edge set per corpus dir
    * (graft.util.CorpusMemo.rows: an in-place rewrite releases the
    * stale edges and rebuilds) — the BpeTrain.trainCached pattern
    * applied to the curation
    * pipeline's central shared artifact: NINE entries consume the same
    * deterministic (a_id, b_id, jaccard) set (d13 clusters it, d17/d23
    * dedup with it, d37 gates ingest, d40 cross-tabs it, d43 picks
    * survivors, d63 splits leak-free, d64 weights, d75 sweeps the
    * threshold curve), and the per-entry
    * `.persist()` this replaces was cleared between entries, so a
    * session running the family recomputed the join once per consumer.
    * Capped at 200k rows (CorpusMemo.MaxRows): above the cap the memo
    * declines and the caller gets the distributed persisted join
    * instead — the 100 TB path, where an edge set is written to a table
    * once and read by every consumer, not held on a driver.
    *
    * EXACT Jaccard>=0.5 near-dup edges via the prefix-filtered
    * similarity join — deterministic (no LSH misses), so d13/d17 built
    * on it are oracle-checkable end to end. */
  private def jaccardEdges(s: SparkSession, dir: String): DataFrame =
    graft.util.CorpusMemo.rows(s, dir, "jaccard-edges")(jaccardJoin(s, dir))

  /** d52's oracle — generated per n-gram size (top-mass CTEs for
    * n = 2..4, coverage CTEs for n = 5..10), the same structure the
    * Spark plan builds. SUMs pass through DuckDB HUGEINT, so every
    * aggregate is CAST back to BIGINT before the final projection. */
  private val repetitionSuiteOracle: String = {
    val topCtes = (2 to 4).map { n =>
      s"""g$n AS (SELECT doc_id, md5(g) AS mh, CAST(length(g) AS BIGINT) AS gw
         |  FROM (SELECT doc_id, array_to_string(toks[i+1:i+$n], ' ') AS g
         |    FROM tk, LATERAL (SELECT unnest(range(0,
         |      greatest(len(toks) - ${n - 1}, 0))) AS i) u$n) q$n),
         |c$n AS (SELECT doc_id, mh, MAX(gw) AS gw, COUNT(*) AS c
         |  FROM g$n GROUP BY doc_id, mh),
         |t$n AS (SELECT doc_id, c AS top${n}_c, c * gw AS top${n}_chars
         |  FROM c$n QUALIFY row_number() OVER (PARTITION BY doc_id
         |    ORDER BY c DESC, gw DESC, mh DESC) = 1)""".stripMargin
    }.mkString(",\n")
    val winCtes = (5 to 10).map { n =>
      s"""w$n AS (SELECT doc_id, $n AS n, i + 1 AS pos,
         |    md5(array_to_string(toks[i+1:i+$n], ' ')) AS mh
         |  FROM tk, LATERAL (SELECT unnest(range(0,
         |    greatest(len(toks) - ${n - 1}, 0))) AS i) v$n)""".stripMargin
    }.mkString(",\n")
    val winUnion = (5 to 10).map(n => s"SELECT * FROM w$n").mkString(" UNION ALL ")
    val covwCols = (5 to 10).map(n =>
      s"CAST(MAX(CASE WHEN n = $n THEN cc END) AS BIGINT) AS dup${n}_chars")
      .mkString(", ")
    val topSel = (2 to 4).map(n =>
      s"CAST(COALESCE(t$n.top${n}_c, 0) AS BIGINT) AS top${n}_c, " +
        s"CAST(COALESCE(t$n.top${n}_chars, 0) AS BIGINT) AS top${n}_chars")
      .mkString(",\n  ")
    val dupSel = (5 to 10).map(n =>
      s"COALESCE(covw.dup${n}_chars, 0) AS dup${n}_chars").mkString(", ")
    s"""$normCte,
       |tk AS (SELECT doc_id, string_split(norm, ' ') AS toks,
       |    CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tok,
       |    CAST(length(replace(norm, ' ', '')) AS BIGINT) AS n_chars_tok
       |  FROM nd WHERE length(norm) > 0),
       |$topCtes,
       |$winCtes,
       |wins AS ($winUnion),
       |dups AS (SELECT doc_id, n, mh FROM wins
       |  GROUP BY doc_id, n, mh HAVING COUNT(*) >= 2),
       |sts AS (SELECT doc_id, n, list(pos) AS ss
       |  FROM (SELECT w.doc_id, w.n, w.pos
       |    FROM wins w JOIN dups USING (doc_id, n, mh)) sq GROUP BY doc_id, n),
       |tok AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS q,
       |    unnest(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS w
       |  FROM tk),
       |cov AS (SELECT t.doc_id, s.n,
       |    SUM(CASE WHEN len(list_filter(s.ss,
       |      x -> x <= t.q AND x >= t.q - (s.n - 1))) > 0 THEN t.w ELSE 0 END) AS cc
       |  FROM tok t JOIN sts s USING (doc_id) GROUP BY t.doc_id, s.n),
       |covw AS (SELECT doc_id, $covwCols FROM cov GROUP BY doc_id)
       |SELECT tk.doc_id, tk.n_tok, tk.n_chars_tok,
       |  $topSel,
       |  $dupSel
       |FROM tk LEFT JOIN t2 ON tk.doc_id = t2.doc_id
       |  LEFT JOIN t3 ON tk.doc_id = t3.doc_id
       |  LEFT JOIN t4 ON tk.doc_id = t4.doc_id
       |  LEFT JOIN covw ON tk.doc_id = covw.doc_id
       |ORDER BY tk.doc_id""".stripMargin
  }

  val queries: Seq[GraftQuery] = Seq(

    // ---- d49: PII detection + redaction (the scrubbing pass every
    // published web-corpus pipeline runs before training). Four
    // patterns from Text.PiiPatterns — email, US-style phone, IPv4,
    // and a blocklisted entity term — counted pre-redaction, then
    // redacted in one fixed pattern order; the redacted text leaves the
    // operator only as its md5 fingerprint. The synthetic corpus
    // carries no natural PII, so the query's input is the document text
    // plus a deterministic doc_id-derived contact suffix (identical
    // string algebra on both engines) — every pattern is load-bearing
    // on all 500 docs AND the blocklist term exercises the natural-text
    // path; PiiSpec proves each pattern on crafted adversarial strings.
    // Scale shape: pure map-side projection (regex over the scan, no
    // join, no shuffle except the final presentation sort); patterns
    // stay in the RE2/Java common subset so a DuckDB-validated corpus
    // run and the Spark production run redact bit-identically.
    GraftQuery.sql("d49_pii_redact",
      """WITH aug AS (SELECT doc_id,
        |  text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex'
        |    || CAST(doc_id % 7 AS VARCHAR) || '.com or 202-555-'
        |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
        |    || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(t, '\bcustomer\b')) AS BIGINT) AS n_name,
        |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\bcustomer\b', '<NAME>', 'g')) AS red_fp
        |FROM aug ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val aug = docs(s, dir).select($"doc_id",
        concat($"text",
          lit(" contact u"), $"doc_id".cast("string"),
          lit("@ex"), ($"doc_id" % 7).cast("string"),
          lit(".com or 202-555-"),
          lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
          lit(" at 10.0."), ($"doc_id" % 256).cast("string"),
          lit("."), (($"doc_id" * 7) % 256).cast("string")).as("t"))
      val counts = Text.PiiPatterns.map { case (nm, pat, _) =>
        Text.piiCount($"t", pat).as(s"n_$nm")
      }
      aug.select($"doc_id" +: counts :+ md5(Text.redactPii($"t")).as("red_fp"): _*)
        .orderBy($"doc_id")
    },

    // ---- d50: exact-substring dedup REMOVAL (the ExactSubstr policy of
    // Lee et al. 2022, "Deduplicating Training Data Makes Language
    // Models Better") — where d27 only FLAGS window-level duplication,
    // this rewrites the corpus: every token covered by a 16-token window
    // that also occurs in another document is dropped, and the cleaned
    // text leaves the operator as token counts + md5 fingerprint.
    // Removal is symmetric (duplicated spans leave every doc; the
    // canonical copy of shared content survives via d23's cluster
    // representatives — a deliberate policy, documented here).
    // Coverage is computed by a position sweep, not an interval join:
    // token q is removed iff the latest shared-window start ≤ q is
    // within 15 positions — one running MAX over (position, starts)
    // events, linear per doc, no O(tokens × windows) blowup.
    // Scale shape: window hashes are map-side projections of the single
    // token pass; the cross-doc test is one exchange keyed on the
    // 128-bit window hash (never window text); qualifying starts join
    // back on that same key partitioning; the sweep, the rebuild, and
    // the rollup all ride one doc_id exchange.
    GraftQuery.sql("d50_substr_remove",
      s"""$normCte,
         |tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM nd
         |  WHERE length(norm) > 0),
         |tok AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS q,
         |    unnest(toks) AS tok FROM tk),
         |wins AS (SELECT doc_id, unnest(range(1, len(toks) - 14)) AS pos,
         |    unnest(list_transform(range(1, len(toks) - 14),
         |      i -> md5(array_to_string(toks[i:i+15], ' ')))) AS wh
         |  FROM tk WHERE len(toks) >= 16),
         |shared AS (SELECT wh FROM wins GROUP BY wh
         |  HAVING COUNT(DISTINCT doc_id) >= 2),
         |starts AS (SELECT DISTINCT w.doc_id, w.pos
         |  FROM wins w JOIN shared USING (wh)),
         |ev AS (
         |  SELECT doc_id, q AS p, 0 AS is_start, q, tok FROM tok
         |  UNION ALL
         |  SELECT doc_id, pos AS p, 1 AS is_start, NULL AS q, NULL AS tok
         |  FROM starts),
         |sweep AS (SELECT doc_id, is_start, q, tok,
         |    MAX(CASE WHEN is_start = 1 THEN p END) OVER (PARTITION BY doc_id
         |      ORDER BY p, is_start DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_start
         |  FROM ev),
         |kept AS (SELECT doc_id, q, tok,
         |    (last_start IS NOT NULL AND q - last_start <= 15) AS covered
         |  FROM sweep WHERE is_start = 0)
         |SELECT doc_id, COUNT(*) AS n_tok,
         |  CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  md5(COALESCE(string_agg(tok, ' ' ORDER BY q)
         |    FILTER (WHERE NOT covered), '')) AS clean_fp
         |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      // tk feeds BOTH the token stream and the 16-gram window hashes —
      // persisted so the scan+normalize+tokenize pass runs once, not
      // once per consumer (the d61/d79 qualityScores lesson);
      // Bench clears caches per entry; Verify's concurrent loop clears periodically
      val tk = docs(s, dir)
        .filter(length(Text.normalize($"text")) > 0)
        .select($"doc_id", Text.tokens($"text").as("toks"))
        .persist()
      val tok = tk.select($"doc_id", posexplode($"toks"))
        .toDF("doc_id", "q0", "tok")
        .select($"doc_id", ($"q0" + 1).as("q"), $"tok")
      val wins = tk.filter(size($"toks") >= 16)
        .select($"doc_id", posexplode(transform(
          sequence(lit(1), size($"toks") - 15),
          i => md5(concat_ws(" ", slice($"toks", i, lit(16)))))))
        .toDF("doc_id", "p0", "wh")
        .select($"doc_id", ($"p0" + 1).as("pos"), $"wh")
      val shared = wins.groupBy($"wh")
        .agg(countDistinct($"doc_id").as("nd"))
        .filter($"nd" >= 2).select($"wh")
      val starts = wins.join(shared, "wh").select($"doc_id", $"pos").distinct()
      val ev = tok
        .select($"doc_id", $"q".as("p"), lit(0).as("is_start"), $"q", $"tok")
        .unionByName(starts.select($"doc_id", $"pos".as("p"),
          lit(1).as("is_start"),
          lit(null).cast("integer").as("q"),
          lit(null).cast("string").as("tok")))
      val w = Window.partitionBy($"doc_id")
        .orderBy($"p".asc, $"is_start".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val kept = ev
        .withColumn("last_start", max(when($"is_start" === 1, $"p")).over(w))
        .filter($"is_start" === 0)
        .withColumn("covered",
          $"last_start".isNotNull && ($"q" - $"last_start" <= 15))
      kept.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum($"covered".cast("long")).as("n_removed"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(when(!$"covered", struct($"q", $"tok")))),
            x => x.getField("tok")))).as("clean_fp"))
        .orderBy($"doc_id")
    },

    // ---- d1: exact dedup by normalized-content fingerprint. Scale: the
    // shuffle key is the 128-bit hash, never the document body; payload
    // columns prune to (fp, doc_id) before the exchange.
    GraftQuery.sql("d1_dedup_exact",
      s"""$normCte
         |SELECT md5(norm) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         |FROM nd GROUP BY md5(norm) ORDER BY fp""".stripMargin) { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .select(Text.fingerprint($"text").as("fp"), $"doc_id")
        .groupBy($"fp")
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy($"fp")
    },

    // ---- d2: per-document stable fingerprint + normalized length.
    GraftQuery.sql("d2_fingerprint",
      s"""$normCte
         |SELECT doc_id, md5(norm) AS fp, CAST(length(norm) AS BIGINT) AS n_chars_norm
         |FROM nd ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .select($"doc_id", Text.fingerprint($"text").as("fp"),
          length(Text.normalize($"text")).cast("long").as("n_chars_norm"))
        .orderBy($"doc_id")
    },

    // ---- d3: token counting — whitespace tokens and a BPE-ish regex
    // token proxy (letter runs / digit runs / punctuation marks).
    GraftQuery.sql("d3_token_count",
      s"""$normCte
         |SELECT doc_id,
         |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens
         |FROM nd ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .select($"doc_id",
          Text.wsTokenCount($"text").as("ws_tokens"),
          Text.bpeTokenCount($"text").as("bpe_tokens"))
        .orderBy($"doc_id")
    },

    // ---- d4: quality scoring (length saturation + punctuation density +
    // stopword ratio), the web-corpus filter heuristic. Unrounded on both
    // sides: both engines evaluate the identical IEEE double chain, while
    // engine-native ROUND diverges at .00005 boundaries (r1 ADVICE).
    GraftQuery.sql("d4_quality_score",
      s"""$normCte
         |SELECT doc_id,
         |  LEAST(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) / 100.0, 1.0) * 0.3
         |  + (CASE WHEN length(norm) > 0
         |     THEN 1.0 - CAST(length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) AS BIGINT)
         |           / CAST(length(norm) AS BIGINT) ELSE 0.0 END) * 0.3
         |  + (CAST(len(list_filter(string_split(norm, ' '), t -> t IN ('the', 'a'))) AS BIGINT)
         |     / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)) * 0.4
         |  AS quality
         |FROM nd ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .select($"doc_id", Text.qualityScore($"text", stopwords).as("quality"))
        .orderBy($"doc_id")
    },

    // ---- d5: language ID by marker-token voting with a deterministic
    // alphabetical tie-break; reported as a lang×pred confusion matrix.
    GraftQuery.sql("d5_lang_id",
      s"""$normCte,
         |scores AS (SELECT doc_id, lang,
         |  len(list_filter(string_split(norm, ' '), t -> t IN ('das', 'der', 'die', 'und'))) AS s_de,
         |  len(list_filter(string_split(norm, ' '), t -> t IN ('and', 'of', 'the'))) AS s_en,
         |  len(list_filter(string_split(norm, ' '), t -> t IN ('el', 'los', 'que', 'y'))) AS s_es,
         |  len(list_filter(string_split(norm, ' '), t -> t IN ('et', 'la', 'le', 'les'))) AS s_fr,
         |  len(list_filter(string_split(norm, ' '), t -> t IN ('de_zh_marker'))) AS s_zh
         |  FROM nd),
         |pred AS (SELECT lang, CASE
         |  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |  WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS predicted
         |  FROM scores)
         |SELECT lang, predicted, COUNT(*) AS n FROM pred
         |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin) { (s, dir) =>
      import s.implicits._
      val markers = Seq(
        "de" -> Seq("das", "der", "die", "und"),
        "en" -> Seq("and", "of", "the"),
        "es" -> Seq("el", "los", "que", "y"),
        "fr" -> Seq("et", "la", "le", "les"),
        "zh" -> Seq("de_zh_marker"))
      // Tokenize ONCE and score via explode + conditional hash aggregate.
      // The r1 form (5 filter-HOF columns feeding a CASE) re-evaluated the
      // regex normalize+split per CASE reference — interpreted lambdas,
      // ~49 s at sf0.1. This shape is one codegen'd pass + a partial
      // (map-side combined) aggregate keyed on doc_id.
      val tok = docs(s, dir).select($"doc_id", $"lang",
        explode_outer(Text.tokens($"text")).as("t"))
      val scoreCols = markers.map { case (l, ws) =>
        sum(when($"t".isin(ws.map(lit(_)): _*), 1L).otherwise(0L)).as(s"s_$l")
      }
      val scored = tok.groupBy($"doc_id", $"lang")
        .agg(scoreCols.head, scoreCols.tail: _*)
      val predicted = scored.withColumn("predicted",
        when($"s_de" >= $"s_en" && $"s_de" >= $"s_es" && $"s_de" >= $"s_fr" && $"s_de" >= $"s_zh", "de")
          .when($"s_en" >= $"s_es" && $"s_en" >= $"s_fr" && $"s_en" >= $"s_zh", "en")
          .when($"s_es" >= $"s_fr" && $"s_es" >= $"s_zh", "es")
          .when($"s_fr" >= $"s_zh", "fr")
          .otherwise("zh"))
      predicted.groupBy($"lang", $"predicted").agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"predicted")
    },

    // ---- d6: MinHash+LSH near-dup candidates. LSH is probabilistic
    // only about RECALL — given its seeds it is a pure function of the
    // corpus, so the oracle (OracleHash) replays the whole pipeline in
    // DuckDB bit-for-bit: xxh64 shingle hashes, the 64-perm xor-fmix64
    // signature with signed mins, Spark's Murmur3 band hash over each
    // 4-slot slice, and the capped bucket self-join. Recall quality
    // itself stays pinned by DedupSpec (planted near-dups vs
    // brute-force Jaccard).
    GraftQuery.sql("d6_dedup_minhash",
      "WITH " + OracleHash.shingleCte(3) + ",\n" +
        OracleHash.minhashCte(MinhashPerms, MinhashSeed) + ",\n" +
        OracleHash.bandsCte(MinhashRows) + ",\n" +
        OracleHash.candidateCte(MaxBucket) + "\n" +
        "SELECT a_id, b_id, n_shared_bands FROM cand ORDER BY a_id, b_id") { (s, dir) =>
      import s.implicits._
      minhashCandidates(s, dir).orderBy($"a_id", $"b_id")
    },

    // ---- d7: SimHash near-dup — 64-bit fingerprint over word-3-shingle
    // hashes (shingles, not unigrams: unigram simhash leaves true near-dups
    // at hamming ≤10 while same-topic background floods in at ≥5; shingle
    // features separate them completely — near ≤12, background ≥14 on this
    // corpus). Candidates via 8 bands × 8 bits (pigeonhole guarantee: any
    // pair at hamming ≤7 shares a band; 8–12 found with high probability),
    // verified with bit_count(xor) <= 12. The fingerprint is 8 bytes/doc:
    // at 100 TB the candidate join shuffles fingerprints, never text.
    // Deterministic end-to-end (majority votes are integer-exact), so
    // the oracle recomputes the 64-bit fingerprint, the 8×8-bit bands,
    // the capped buckets, and the hamming refine in DuckDB.
    GraftQuery.sql("d7_dedup_simhash",
      "WITH " + OracleHash.shingleCte(3) + ",\n" + OracleHash.simhashCte + ",\n" +
        """banded AS (
          |  SELECT doc_id, sim, i AS band_idx,
          |    CAST((simu // pl[8*i+1]) % 256 AS BIGINT) AS band_val
          |  FROM sims, pw, UNNEST(generate_series(0, 7)) t(i)),
          |buckets AS (SELECT band_idx, band_val, count(*) AS bn FROM banded
          |  GROUP BY 1, 2 HAVING bn BETWEEN 2 AND """.stripMargin + MaxBucket +
        """),
          |inb AS MATERIALIZED (SELECT b.band_idx, b.band_val, b.doc_id, b.sim
          |  FROM banded b JOIN buckets USING (band_idx, band_val)),
          |pairs AS (
          |  SELECT l.doc_id AS a_id, r.doc_id AS b_id,
          |    MIN(l.sim) AS sim_a, MIN(r.sim) AS sim_b
          |  FROM inb l JOIN inb r ON l.band_idx = r.band_idx
          |    AND l.band_val = r.band_val AND l.doc_id < r.doc_id
          |  GROUP BY 1, 2)
          |SELECT a_id, b_id, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
          |FROM pairs WHERE bit_count(xor(sim_a, sim_b)) <= 12
          |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val sims = shingleSets(s, dir).select($"doc_id",
        call_function("simhash64", $"sh").as("sim"))
      val bandCols = (0 until 8).map { i =>
        shiftright($"sim", i * 8).bitwiseAND(lit(0xffL))
      }
      val banded = sims.select($"doc_id", $"sim", posexplode(array(bandCols: _*)))
        .toDF("doc_id", "sim", "band_idx", "band_val")
        .persist()
      // 8-bit band values are low-entropy, and a band value shared by a
      // big same-topic cohort turns one bucket into a single-task
      // quadratic join — the same LSH skew control as d6: size the
      // buckets first and drop degenerate ones. (The hamming<=7
      // pigeonhole guarantee holds as long as the shared band's bucket
      // survives; at the cap a bucket that big carries no near-dup
      // signal anyway.)
      val buckets = banded.groupBy($"band_idx", $"band_val")
        .agg(count(lit(1)).as("bn"))
        .filter($"bn".between(2L, MaxBucket))
      val inBucket = banded.join(buckets, Seq("band_idx", "band_val"))
        .select($"band_idx", $"band_val", $"doc_id", $"sim")
      val l = inBucket.select($"band_idx", $"band_val", $"doc_id".as("a_id"), $"sim".as("sim_a"))
      val r = inBucket.select($"band_idx", $"band_val", $"doc_id".as("b_id"), $"sim".as("sim_b"))
      // aggregate FIRST: a pair appears once per shared band (up to 8x),
      // and a popular bucket inflates that quadratically — the partial
      // (map-side) aggregate collapses duplicates before the shuffle,
      // where a distinct-after-join would ship every copy. The 8-byte
      // fingerprints ride through the aggregate (min = the one value),
      // so hamming needs no further join.
      l.join(r, Seq("band_idx", "band_val"))
        .filter($"a_id" < $"b_id")
        .groupBy($"a_id", $"b_id")
        .agg(min($"sim_a").as("sim_a"), min($"sim_b").as("sim_b"))
        .select($"a_id", $"b_id",
          bit_count($"sim_a".bitwiseXOR($"sim_b")).cast("long").as("hamming"))
        .filter($"hamming" <= 12)
        .orderBy($"a_id", $"b_id")
    },

    // ---- d8: exact n-gram Jaccard verification of the LSH candidates
    // (candidate generation is d6's band join; this is the refine step,
    // so the quadratic set-compare only runs on O(candidates) pairs).
    // The oracle reuses d6's replayed candidate set and recomputes the
    // intersection over the xxh64 shingle sets — the double jaccard
    // hash-matches because both sides compute the same single division
    // from the same three integers, then round half-up to 6 places.
    GraftQuery.sql("d8_ngram_jaccard",
      "WITH " + OracleHash.shingleCte(3) + ",\n" +
        OracleHash.minhashCte(MinhashPerms, MinhashSeed) + ",\n" +
        OracleHash.bandsCte(MinhashRows) + ",\n" +
        OracleHash.candidateCte(MaxBucket) + ",\n" +
        """sz AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
          |ix AS (
          |  SELECT c.a_id, c.b_id, count(*) AS c
          |  FROM cand c JOIN sh a ON a.doc_id = c.a_id
          |  JOIN sh b ON b.doc_id = c.b_id AND a.h = b.h
          |  GROUP BY 1, 2),
          |jac AS (
          |  SELECT c.a_id, c.b_id,
          |    CAST(COALESCE(ix.c, 0) AS DOUBLE)
          |      / (sa.nsh + sb.nsh - COALESCE(ix.c, 0)) AS j
          |  FROM cand c LEFT JOIN ix ON ix.a_id = c.a_id AND ix.b_id = c.b_id
          |  JOIN sz sa ON sa.doc_id = c.a_id JOIN sz sb ON sb.doc_id = c.b_id)
          |SELECT a_id, b_id, ROUND(j, 6) AS jaccard FROM jac WHERE j >= 0.5
          |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val sets = shingleSets(s, dir).persist()
      val a = sets.select($"doc_id".as("a_id"), $"sh".as("sh_a"))
      val b = sets.select($"doc_id".as("b_id"), $"sh".as("sh_b"))
      minhashCandidates(s, dir)
        .join(a, "a_id").join(b, "b_id")
        // sorted-merge count on the sorted hashed sets (same refine math
        // as SimilarityJoin's verify): |A∪B| = |A|+|B|−|A∩B|
        .withColumn("c", call_function("sorted_intersect_count", $"sh_a", $"sh_b"))
        .withColumn("jaccard", $"c".cast("double") /
          (size($"sh_a").cast("long") + size($"sh_b") - $"c").cast("double"))
        .filter($"jaccard" >= 0.5)
        .select($"a_id", $"b_id", round($"jaccard", 6).as("jaccard"))
        .orderBy($"a_id", $"b_id")
    },

    // ---- d9: cosine-threshold near-duplicate pairs. Brute-force O(n²)
    // pair generation here (correctness baseline); the 100TB path is the
    // LSH-bucketed variant (d6/d11) whose candidates this query verifies.
    GraftQuery.sql("d9_embedding_neardup",
      s"""$nvCte
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  ROUND(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
         |FROM nv a JOIN nv b ON a.vec_id < b.vec_id
         |WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4
         |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val nv = embs(s, dir)
        .select($"vec_id", $"embedding", Vectors.norm($"embedding").as("nrm"))
      // The pair join is a broadcast nested loop; the probe side arrives as
      // one parquet split, so spread it across cores (at cluster scale this
      // is the map-side parallelism of the O(n²/p) block comparison).
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val a = nv.select($"vec_id".as("a_id"), $"embedding".as("ea"), $"nrm".as("na"))
        .repartition(p)
      val b = nv.select($"vec_id".as("b_id"), $"embedding".as("eb"), $"nrm".as("nb"))
      a.join(b, $"a_id" < $"b_id")
        .withColumn("cos", Vectors.cosineWithNorms($"ea", $"eb", $"na", $"nb"))
        .filter($"cos" >= 0.4)
        .select($"a_id", $"b_id", round($"cos", 6).as("cos"))
        .orderBy($"a_id", $"b_id")
    },

    // ---- d10: brute-force cosine top-k (k=5) for a query subset — the
    // exact baseline ANN recall is measured against (d11 is the scale
    // path). TakeOrdered per query via window row_number.
    GraftQuery.sql("d10_ann_topk",
      s"""$nvCte,
         |pairs AS (SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM nv q JOIN nv c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10),
         |ranked AS (SELECT q_id, neighbor_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM pairs)
         |SELECT q_id, neighbor_id, ROUND(cos, 6) AS cos, rk
         |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
      import s.implicits._
      val nv = embs(s, dir)
        .select($"vec_id", $"embedding", Vectors.norm($"embedding").as("nrm"))
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val q = nv.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"embedding".as("eq"), $"nrm".as("nq"))
      val c = nv.select($"vec_id".as("neighbor_id"), $"embedding".as("ec"), $"nrm".as("nc"))
        .repartition(p)
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"neighbor_id")
      q.join(c, $"q_id" =!= $"neighbor_id")
        .withColumn("cos", Vectors.cosineWithNorms($"eq", $"ec", $"nq", $"nc"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 5)
        .select($"q_id", $"neighbor_id", round($"cos", 6).as("cos"), $"rk")
        .orderBy($"q_id", $"rk")
    },

    // ---- d51: product-quantization ANN (Jégou et al., ADC+R) — the
    // MEMORY scale path: d11 bounds how much of the corpus a query
    // touches, PQ bounds how many bytes per vector it costs — 16 codes
    // (one per 4-dim subspace, 16 codewords each ⇒ 4 bits/code, 8
    // bytes total) instead of 64 floats, 32× smaller, scanned against
    // a per-query distance lookup table that rides into tasks as a
    // literal (asymmetric ADC). The scan emits a 50-deep shortlist per
    // query; only those rows fetch vectors for the EXACT lattice-L2
    // re-rank (the standard PQ pipeline — scan cost never touches
    // vectors, re-rank cost is shortlist·queries). Training, encoding,
    // scan, and re-rank all run on KMeans' 2^-20 integer lattice, so
    // the operator is bit-deterministic; approximate shortlist ⇒
    // rows-only, with end-to-end recall vs the exact ranking pinned in
    // Wave7Spec (0.96 measured; m/k/shortlist dial in BENCH_NOTES).
    // Same (dist, neighbor_id) tie-break as d10.
    GraftQuery.rowsOnly("d51_ann_pq") { (s, dir) =>
      import s.implicits._
      val e = embs(s, dir)
      val cb = graft.operators.PqAnn.train(s, e, m = 16, k = 16, iters = 3)
      graft.operators.PqAnn.topKReranked(s, e, cb, $"vec_id" < 10,
        k = 5, shortlist = 50)
    },

    // ---- d11: IVF ANN — the scale path for top-k search. Probes 4 of
    // 16 centroid clusters per query (~25% of the corpus) instead of
    // scanning everything; recall vs the exact d10 is asserted in
    // AnnSpec. Same (cos desc, neighbor_id) tie-break as d10.
    // HASH-ORACLE since the build moved to the normalized integer
    // lattice (KMeans' discipline): seeds, the Lloyd round, assignment
    // and probe ranking are all BIGINT-exact, and the cosine scorer was
    // always replayable (d10) — so DuckDB recomputes the entire
    // pipeline, approximation included.
    GraftQuery.sql("d11_ann_ivf",
      ivfOracleSql(k = 16, iters = 1, nprobe = 4, topK = 5)) { (s, dir) =>
      import s.implicits._
      val nv = embs(s, dir)
      val queries = nv.filter($"vec_id" < 10)
      // corpusDir: the C=16 IVF over this corpus is the same
      // index d44's candidate generator probes — one Lloyd build per
      // session serves both (AnnIvf.centroidsCached).
      graft.operators.AnnIvf.search(s, nv, queries,
        numClusters = 16, nprobe = 4, k = 5, corpusDir = Some(dir))
        .orderBy($"q_id", $"rk")
    },

    // ---- d14: winnowing fingerprints (Schleimer et al. SIGMOD'03) —
    // rolling-hash k-grams, rightmost-min per window; any shared
    // substring of length >= k+w-1 guarantees a shared fingerprint.
    // Near-dup pairs = docs sharing >= 6 fingerprints (on this corpus
    // strong near-dups share >= 7 while boilerplate-only background
    // pairs top out at 5), found by exploding the fingerprint sets and
    // joining on the 8-byte hash — the same shuffle shape as d6
    // (hash keys, never text).
    //
    // Winnowing is fully DETERMINISTIC (unlike d6/d7's seeded sketch
    // families), so the oracle recomputes the WinnowExpression's exact
    // bit pattern in DuckDB: each k=16-gram's polynomial rolling hash
    // folds in HUGEINT mod 2^64 (Scala Long wrap-around), MurmurHash3's
    // fmix64 finalizer runs with UBIGINT xor/logical-shift plus the
    // 32-bit-split multiply (a·c mod 2^64 = a·c_lo + (a·c_hi mod 2^32)
    // ·2^32 — each partial < 2^96 fits HUGEINT), and the per-window min
    // is taken over the SIGNED reinterpretation — the comparison the
    // JVM's `Long <` actually performs (the rightmost-tie rule picks an
    // index, not a value, so the selected SET is just the distinct
    // window minima). The corpus guarantees norm length ≥ k, so the
    // short-input branch never fires in oracle scope.
    GraftQuery.sql("d14_winnow_fingerprint",
      """WITH nd AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |cl AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(norm)+1),
        |      i -> CAST(ord(substr(norm, CAST(i AS INT), 1)) AS HUGEINT)) AS cs
        |  FROM nd),
        |gram AS (
        |  SELECT doc_id, g,
        |    list_reduce(list_prepend(CAST(0 AS HUGEINT), cs[g+1:g+16]),
        |      (acc, x) -> (acc * 1000003 + x)
        |        % CAST('18446744073709551616' AS HUGEINT)) AS raw
        |  FROM cl, UNNEST(generate_series(0, len(cs)-16)) AS t(g)),
        |f1 AS (SELECT doc_id, g,
        |    xor(CAST(raw AS UBIGINT), CAST(raw AS UBIGINT) >> 33) AS x FROM gram),
        |f2 AS (SELECT doc_id, g, CAST((CAST(x AS HUGEINT)*3981806797 +
        |    ((CAST(x AS HUGEINT)*4283543511) % CAST(4294967296 AS HUGEINT))
        |      * CAST(4294967296 AS HUGEINT))
        |    % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM f1),
        |f3 AS (SELECT doc_id, g, xor(x, x >> 33) AS x FROM f2),
        |f4 AS (SELECT doc_id, g, CAST((CAST(x AS HUGEINT)*444984403 +
        |    ((CAST(x AS HUGEINT)*3301882366) % CAST(4294967296 AS HUGEINT))
        |      * CAST(4294967296 AS HUGEINT))
        |    % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT) AS x FROM f3),
        |hs AS (SELECT doc_id, g,
        |    CAST(CASE WHEN xor(x, x >> 33) >= CAST('9223372036854775808' AS UBIGINT)
        |      THEN CAST(xor(x, x >> 33) AS HUGEINT)
        |        - CAST('18446744073709551616' AS HUGEINT)
        |      ELSE CAST(xor(x, x >> 33) AS HUGEINT) END AS BIGINT) AS h FROM f4),
        |mx AS (SELECT doc_id, MAX(g) AS mg FROM hs GROUP BY doc_id),
        |win AS (
        |  SELECT a.doc_id, a.g AS s, MIN(b.h) AS wmin
        |  FROM hs a JOIN mx USING (doc_id)
        |  JOIN hs b ON a.doc_id = b.doc_id AND b.g BETWEEN a.g AND a.g+7
        |  WHERE a.g <= mx.mg - 7
        |  GROUP BY a.doc_id, a.g),
        |fp AS (SELECT DISTINCT doc_id, wmin AS fp FROM win),
        |common AS (SELECT fp, count(*) AS fn FROM fp
        |  GROUP BY fp HAVING fn BETWEEN 2 AND 100),
        |inb AS (SELECT f.doc_id, f.fp FROM fp f JOIN common USING (fp)),
        |pairs AS (
        |  SELECT l.doc_id AS a_id, r.doc_id AS b_id, count(*) AS n_shared
        |  FROM inb l JOIN inb r ON l.fp = r.fp AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 6)
        |SELECT a_id, b_id, n_shared FROM pairs
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val fps = docs(s, dir).repartition(p)
        .select($"doc_id",
          explode(call_function("winnow",
            Text.normalize($"text"), lit(16), lit(8))).as("fp"))
        .persist()
      // drop degenerate fingerprints shared by a large cohort: a
      // fingerprint in >100 docs is boilerplate, carries no near-dup
      // signal, and costs cohort² pair rows (near-dup fingerprints are
      // by nature rare — the cap can't evict them)
      val common = fps.groupBy($"fp").agg(count(lit(1)).as("fn"))
        .filter($"fn".between(2L, 100L))
      val inB = fps.join(common, "fp")
      val l = inB.select($"fp", $"doc_id".as("a_id"))
      val r = inB.select($"fp", $"doc_id".as("b_id"))
      l.join(r, "fp")
        .filter($"a_id" < $"b_id")
        .groupBy($"a_id", $"b_id")
        .agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= 6)
        .orderBy($"a_id", $"b_id")
    },

    // ---- d18: EXACT set-similarity self-join (AllPairs/PPJoin shape) —
    // every pair at word-3-shingle Jaccard >= 0.5, zero false negatives.
    // The prefix filter (rarest-first global order) is what makes this
    // survive 100 TB where a naive shingle inverted index hits quadratic
    // boilerplate buckets; hash-checked against DuckDB's brute-force
    // all-pairs Jaccard.
    GraftQuery.sql("d18_jaccard_join",
      s"""$simCte
         |SELECT a_id, b_id, ROUND(jaccard, 6) AS jaccard
         |FROM pr WHERE jaccard >= 0.5 ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      // deliberately the DISTRIBUTED join, not jaccardEdges' memo: this
      // entry IS the edge-set build — the memo consumers amortize.
      jaccardJoin(s, dir)
        .select($"a_id", $"b_id", round($"jaccard", 6).as("jaccard"))
        .orderBy($"a_id", $"b_id")
    },

    // ---- d13: near-dup cluster assignment — connected components over
    // the exact Jaccard>=0.5 edge set (iterative min-label propagation,
    // no driver-side graph). Every document gets a cluster
    // representative; dedup = keep doc_id == cluster_id. The edges come
    // from the exact prefix-filtered similarity join (d18), not LSH, so
    // the graph is deterministic and the DuckDB recursive-CTE oracle
    // checks the full labeling; exactness vs a driver-side union-find
    // is additionally asserted in DedupSpec.
    GraftQuery.sql("d13_dedup_clusters",
      s"""$simCte,
         |$ccCte
         |SELECT doc_id, cluster_id FROM lab ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).select($"doc_id")
      val pairs = jaccardEdges(s, dir).select($"a_id", $"b_id")
      graft.operators.DedupClusters.assign(d, pairs)
        .orderBy($"doc_id")
    },

    // ---- d15: stratified sampling — per-class fractions for corpus
    // rebalancing (the training-data op for over/under-represented
    // languages), as a DETERMINISTIC hash-threshold Bernoulli (d35's
    // idiom): each doc's salted md5 prefix against its stratum's
    // threshold, fractions at 8-bit resolution (en 128/256, de/fr/es
    // 77/256, zh 26/256). Same plan shape as the old sampleBy form —
    // one scan, a map-side per-row test, no shuffle before the count
    // aggregate — but reproducible across engines and re-runs, which
    // is what a corpus-curation sample needs anyway (the kept set must
    // be stable under retries). Proportions still binomial-checked in
    // DedupSpec; the exact kept set hash-checks against DuckDB.
    GraftQuery.sql("d15_stratified_sample",
      """WITH thr AS (SELECT * FROM (VALUES ('en','80'), ('de','4d'),
        |    ('fr','4d'), ('es','4d'), ('zh','1a')) AS t(lang, thr)),
        |s AS (SELECT doc_id, d.lang FROM documents d JOIN thr USING (lang)
        |  WHERE substr(md5('d15|' || CAST(doc_id AS VARCHAR)), 1, 2) < thr)
        |SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      val thresholds = Map("en" -> "80", "de" -> "4d", "fr" -> "4d",
        "es" -> "4d", "zh" -> "1a")
      docs(s, dir)
        .select($"doc_id", $"lang",
          substring(md5(concat(lit("d15|"), $"doc_id".cast("string"))
            .cast("binary")), 1, 2).as("hb"))
        .withColumn("thr", element_at(typedLit(thresholds), $"lang"))
        .filter($"thr".isNotNull && $"hb" < $"thr")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_sampled"), sum($"doc_id").as("id_sum"))
        .orderBy($"lang")
    },

    // ---- d16: random-hyperplane LSH ANN — the bucket-join variant of
    // d11's IVF (data-independent codes, no centroid pass; recall vs
    // cosine tradeoff measured in AnnSpec). The hyperplanes are SEEDED
    // CONSTANTS of the operator (AnnLsh.planes, fixed LCG), so like the
    // minhash seeds they inline into the oracle as literals and the
    // whole search — sign-pattern codes, 1-bit multiprobe, bucket join,
    // exact cosine re-rank — replays in DuckDB. Double parity of the
    // dot products is the same contract d9/d10 already hash-pass on
    // (both engines fold CAST-to-double products left to right).
    GraftQuery.sql("d16_ann_lsh", {
      val planes = graft.operators.AnnLsh.planes
        .map(p => "[" + p.map(_.toDouble.toString).mkString(", ") + "]")
        .mkString("[", ",\n    ", "]")
      def dot(a: String, b: String): String =
        s"""list_sum(list_transform(range(len($a)),
           |      i -> CAST($a[i+1] AS DOUBLE) * $b[i+1]))""".stripMargin
      val codeTerms = (0 until graft.operators.AnnLsh.NumBits).map { i =>
        s"(CASE WHEN ${dot("embedding", s"pls[${i + 1}]")} > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      val probeList = "[code" +
        (0 until graft.operators.AnnLsh.NumBits)
          .map(i => s", xor(code, ${1L << i})").mkString + "]"
      s"""WITH pl(pls) AS (SELECT $planes),
         |nv AS (SELECT vec_id, embedding,
         |  sqrt(${dot("embedding", "CAST(embedding AS DOUBLE[])")}) AS nrm
         |  FROM embeddings),
         |codes AS (SELECT vec_id, embedding, nrm, $codeTerms AS code FROM nv, pl),
         |probes AS (
         |  SELECT vec_id AS q_id, bucket
         |  FROM codes, UNNEST($probeList) t(bucket) WHERE vec_id < 10),
         |cand AS (
         |  SELECT DISTINCT p.q_id, c.vec_id AS neighbor_id
         |  FROM probes p JOIN codes c ON c.code = p.bucket
         |  WHERE p.q_id <> c.vec_id),
         |scored AS (
         |  SELECT cand.q_id, cand.neighbor_id,
         |    ${dot("q.embedding", "CAST(c.embedding AS DOUBLE[])")}
         |      / (q.nrm * c.nrm) AS cos
         |  FROM cand JOIN nv q ON q.vec_id = cand.q_id
         |  JOIN nv c ON c.vec_id = cand.neighbor_id),
         |ranked AS (SELECT q_id, neighbor_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT q_id, neighbor_id, ROUND(cos, 6) AS cos, CAST(rk AS BIGINT) AS rk
         |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val nv = embs(s, dir)
      val queries = nv.filter($"vec_id" < 10)
      graft.operators.AnnLsh.search(s, nv, queries, k = 5)
        .orderBy($"q_id", $"rk")
    },

    // ---- d17: the end of the dedup pipeline — materialize the cleaned
    // corpus: keep one representative per near-dup cluster (doc_id ==
    // cluster_id from d13), report kept/dropped per language. At 100 TB
    // this is the anti-join that actually shrinks the training set.
    // Same exact edge set as d13, so the same recursive-CTE oracle
    // hash-checks the kept/dropped accounting.
    GraftQuery.sql("d17_dedup_corpus",
      s"""$simCte,
         |$ccCte
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN l.doc_id = l.cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  COUNT(*) - CAST(SUM(CASE WHEN l.doc_id = l.cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
         |FROM lab l JOIN nd USING (doc_id)
         |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"lang")
      val pairs = jaccardEdges(s, dir).select($"a_id", $"b_id")
      val labels = graft.operators.DedupClusters.assign(
        d.select($"doc_id"), pairs)
      d.join(labels, "doc_id")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"doc_id" === $"cluster_id", 1L).otherwise(0L)).as("n_kept"))
        .withColumn("n_dropped", $"n_docs" - $"n_kept")
        .orderBy($"lang")
    },

    // ---- d23: the kept corpus as a WRITTEN ARTIFACT, not just a
    // decision — d13's cluster representatives are materialized to
    // parquet partitioned by lang (the layout a training pipeline ships:
    // per-language jobs scan only their slice), then read BACK from the
    // artifact, so the oracle hash-checks the roundtripped files, not an
    // in-memory plan. The fingerprint is recomputed from the read-back
    // text: a corrupted/dropped/duplicated row in the write path breaks
    // the hash. Partition-pruning on the written layout is asserted in
    // StorageLayoutSpec.
    GraftQuery.sql("d23_corpus_write",
      s"""$simCte,
         |$ccCte
         |SELECT l.doc_id, nd.lang, md5(nd.norm) AS fp
         |FROM lab l JOIN nd USING (doc_id)
         |WHERE l.doc_id = l.cluster_id ORDER BY l.doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"lang", $"text")
      val pairs = jaccardEdges(s, dir).select($"a_id", $"b_id")
      val labels = graft.operators.DedupClusters.assign(
        d.select($"doc_id"), pairs)
      val kept = d.join(labels, "doc_id").filter($"doc_id" === $"cluster_id")
      // per-process scratch, reused within the JVM and deleted at exit
      val out = graft.util.TempDirs.scoped("graft-d23-corpus")
      kept.select($"doc_id", $"text", $"lang")
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .select($"doc_id", $"lang", Text.fingerprint($"text").as("fp"))
        .orderBy($"doc_id")
    },

    // ---- d19: Gopher-style document quality gate — the rule-based
    // keep/drop filter every web-scale corpus pass runs (word-count
    // bounds, mean-word-length bounds, symbol density, stopword
    // presence). All signals are INTEGER counts and every threshold is
    // integer cross-multiplication (3*words <= chars <= 10*words, not
    // chars/words in [3,10]), so the kept bit is bit-identical across
    // engines — no float boundary can flip a document. One scan, no
    // shuffle before the (tiny) ordered output.
    GraftQuery.sql("d19_gopher_filter",
      s"""$normCte
         |SELECT doc_id,
         |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_words,
         |  CAST(length(replace(norm, ' ', '')) AS BIGINT) AS n_chars,
         |  CAST(length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
         |  CAST(len(list_filter(string_split(norm, ' '), t -> t IN ('the', 'a'))) AS BIGINT) AS n_stop,
         |  CAST(CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) BETWEEN 50 AND 100000
         |    AND length(replace(norm, ' ', '')) >= 3 * len(regexp_split_to_array(trim(text), '\\s+'))
         |    AND length(replace(norm, ' ', '')) <= 10 * len(regexp_split_to_array(trim(text), '\\s+'))
         |    AND 10 * length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) <= length(replace(norm, ' ', ''))
         |    AND 50 * len(list_filter(string_split(norm, ' '), t -> t IN ('the', 'a')))
         |        >= len(regexp_split_to_array(trim(text), '\\s+'))
         |  THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM nd ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .select($"doc_id",
          Text.wsTokenCount($"text").as("n_words"),
          length(regexp_replace(Text.normalize($"text"), " ", "")).cast("long").as("n_chars"),
          Text.punctCount($"text").as("n_punct"),
          Text.markerCount($"text", stopwords).as("n_stop"))
        .withColumn("kept",
          ($"n_words".between(50L, 100000L) &&
            $"n_chars" >= $"n_words" * 3 && $"n_chars" <= $"n_words" * 10 &&
            $"n_punct" * 10 <= $"n_chars" &&
            $"n_stop" * 50 >= $"n_words").cast("long"))
        .orderBy($"doc_id")
    },

    // ---- d20: eval-set decontamination — the overlap check a training
    // pipeline runs before any benchmark claim: which corpus documents
    // share a word-8-gram with a held-out eval document (here: doc_id <
    // 25 stands in for the benchmark set). Scale shape: the eval side is
    // tiny by construction, so its exploded 8-grams BROADCAST — the
    // corpus side is one scan + map-side hash probe, and only matching
    // (doc, eval) pairs reach the distinct-count shuffle. Text never
    // moves: the join key is the 8-gram string, carried only for hits.
    GraftQuery.sql("d20_decontaminate",
      s"""WITH nd AS (SELECT doc_id,
         |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents),
         |tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM nd),
         |s8 AS (SELECT doc_id, list_distinct(list_transform(
         |    range(0, greatest(len(toks) - 8, 0) + 1),
         |    i -> array_to_string(toks[i+1:i+8], ' '))) AS sh FROM tk)
         |SELECT c.doc_id, COUNT(DISTINCT e.doc_id) AS n_eval_docs
         |FROM s8 c JOIN s8 e ON e.doc_id < 25 AND c.doc_id >= 25
         |  AND len(list_intersect(c.sh, e.sh)) > 0
         |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      // join key = xxhash64 of the 8-gram: the broadcast table carries
      // 8-byte keys instead of ~50-byte strings (counts over distinct
      // hashes equal counts over strings sans a ~2^-64 collision);
      // native single-pass shingle hashing — no shingle strings built
      val sh8 = docs(s, dir).repartition(p)
        .select($"doc_id", Text.shingleHashes($"text", 8).as("sh"))
      val evalGrams = sh8.filter($"doc_id" < 25)
        .select(explode($"sh").as("g"), $"doc_id".as("eval_id"))
      sh8.filter($"doc_id" >= 25)
        .select($"doc_id", explode($"sh").as("g"))
        .join(broadcast(evalGrams), "g")
        .groupBy($"doc_id")
        .agg(countDistinct($"eval_id").as("n_eval_docs"))
        .orderBy($"doc_id")
    },

    // ---- d24: contamination FRACTION — the complementary
    // decontamination policy to d20's eval-doc count: for each corpus
    // document, how many of ITS distinct 8-grams appear anywhere in the
    // eval set (the overlap-fraction threshold rule used by
    // published LM decontamination pipelines). Integer signals only
    // (n_grams, n_hit, and a 10%-threshold flag via cross-
    // multiplication) so the oracle is hash-exact. Scale shape: same as
    // d20 — distinct eval grams broadcast, corpus side one scan +
    // map-side probe; n_grams rides the explode so no second scan or
    // rejoin of the corpus.
    GraftQuery.sql("d24_contamination_frac",
      s"""WITH nd AS (SELECT doc_id,
         |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents),
         |tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM nd),
         |s8 AS (SELECT doc_id, list_distinct(list_transform(
         |    range(0, greatest(len(toks) - 8, 0) + 1),
         |    i -> array_to_string(toks[i+1:i+8], ' '))) AS sh FROM tk),
         |ev AS (SELECT DISTINCT unnest(sh) AS g FROM s8 WHERE doc_id < 25),
         |cg AS (SELECT doc_id, unnest(sh) AS g FROM s8 WHERE doc_id >= 25),
         |hit AS (SELECT cg.doc_id, count(*) AS n_grams, count(ev.g) AS n_hit
         |  FROM cg LEFT JOIN ev ON cg.g = ev.g GROUP BY cg.doc_id)
         |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST(CASE WHEN 10 * n_hit >= n_grams THEN 1 ELSE 0 END AS BIGINT) AS flagged
         |FROM hit ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val sh8 = docs(s, dir).repartition(p)
        .select($"doc_id", Text.shingleHashes($"text", 8).as("sh"))
      val evalGrams = sh8.filter($"doc_id" < 25)
        .select(explode($"sh").as("g")).distinct()
      // every corpus doc reported, zero-hit included: n_grams = distinct
      // 8-grams (sh is distinct, so one exploded row each), n_hit = rows
      // that matched an eval gram in the broadcast left join.
      sh8.filter($"doc_id" >= 25)
        .select($"doc_id", explode($"sh").as("g"))
        .join(broadcast(evalGrams.withColumn("hit", lit(1))), Seq("g"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"), count($"hit").as("n_hit"))
        .select($"doc_id", $"n_grams", $"n_hit",
          ($"n_hit" * 10 >= $"n_grams").cast("long").as("flagged"))
        .orderBy($"doc_id")
    },

    // ---- d21: training-sequence chunking — split each document's token
    // stream into fixed 128-token windows with a 16-token stride overlap
    // (the pack-into-context-length step before tokenizer batching).
    // Emitted per chunk: start offset and length, ALL integer math, so
    // the oracle is hash-exact. Scale: chunk arithmetic is a per-row
    // generate (no shuffle); the output inherits the scan partitioning.
    GraftQuery.sql("d21_chunking",
      s"""$normCte,
         |tc AS (SELECT doc_id, len(string_split(norm, ' ')) AS n_tok FROM nd),
         |ch AS (SELECT doc_id, n_tok,
         |    unnest(range(0, CAST(ceil(greatest(n_tok - 16, 1) / 112.0) AS BIGINT))) AS chunk_idx
         |  FROM tc)
         |SELECT doc_id, chunk_idx,
         |  chunk_idx * 112 AS tok_start,
         |  least(n_tok - chunk_idx * 112, 128) AS tok_len
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      import s.implicits._
      val Window = 128L
      val Stride = Window - 16L // 16-token overlap between chunks
      docs(s, dir)
        .select($"doc_id", size(Text.tokens($"text")).cast("long").as("n_tok"))
        .withColumn("chunk_idx", explode(sequence(lit(0L),
          ceil(greatest($"n_tok" - 16L, lit(1L)) / lit(Stride.toDouble)).cast("long") - 1L)))
        .select($"doc_id", $"chunk_idx",
          ($"chunk_idx" * Stride).as("tok_start"),
          least($"n_tok" - $"chunk_idx" * Stride, lit(Window)).as("tok_len"))
        .orderBy($"doc_id", $"chunk_idx")
    },

    // ---- d22: repetition filter (the Gopher "fraction of characters in
    // the most common n-gram" family, word-2-gram variant): per document
    // the most frequent bigram's count, total bigrams, and distinct
    // bigrams — integer signals only, ratios left to the consumer.
    // Scale: one explode + a partial-aggregated (doc, gram) count; the
    // gram is collapsed to its xxhash64 before the shuffle, so the
    // exchange carries (long, long) pairs, never bigram strings (counts
    // over distinct hashes equal counts over strings sans a ~2^-64
    // collision).
    GraftQuery.sql("d22_repetition",
      s"""$normCte,
         |tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM nd),
         |bg AS (SELECT doc_id, array_to_string(toks[i+1:i+2], ' ') AS g
         |  FROM tk, LATERAL (SELECT unnest(range(0, greatest(len(toks) - 1, 1))) AS i)),
         |cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g)
         |SELECT doc_id, MAX(c) AS top_bigram_n,
         |  CAST(SUM(c) AS BIGINT) AS n_bigrams,
         |  COUNT(*) AS n_distinct_bigrams
         |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      docs(s, dir).repartition(p) // the local corpus arrives as ONE split
        // multiset form: every bigram occurrence, hashed natively in one
        // pass (the composed transform/slice/concat_ws pipeline was
        // interpreted per element — 18x at the sf1 scale)
        .select($"doc_id", explode(Text.shingleHashesAll($"text", 2)).as("g"))
        .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(max($"c").as("top_bigram_n"),
          sum($"c").as("n_bigrams"),
          count(lit(1)).as("n_distinct_bigrams"))
        .orderBy($"doc_id")
    },

    // ---- d25: corpus vocabulary statistics (tokenizer-training prep):
    // per-term total frequency, document frequency, language spread;
    // top-50 by tf with the term as total-order tiebreaker. Scale shape:
    // classic word count — the pre-aggregate on (term, lang, doc_id)
    // map-side-combines within-document repeats, so the first exchange
    // carries distinct (doc, term) pairs, not every token occurrence;
    // the final top-k is a TakeOrdered, no global sort.
    GraftQuery.sql("d25_vocab_stats",
      s"""$normCte
         |, tok AS (SELECT doc_id, lang,
         |    unnest(string_split(norm, ' ')) AS term FROM nd)
         |SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df,
         |  COUNT(DISTINCT lang) AS n_langs
         |FROM tok GROUP BY term
         |ORDER BY tf DESC, term LIMIT 50""".stripMargin) { (s, dir) =>
      import s.implicits._
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      docs(s, dir).repartition(p) // the local corpus arrives as ONE split
        .select($"doc_id", $"lang", explode(Text.tokens($"text")).as("term"))
        .groupBy($"term", $"lang", $"doc_id").agg(count(lit(1)).as("c"))
        .groupBy($"term")
        .agg(sum($"c").as("tf"), count(lit(1)).as("df"),
          countDistinct($"lang").as("n_langs"))
        .orderBy($"tf".desc, $"term")
        .limit(50)
    },

    // ---- d26: corpus composition report (training-mix bookkeeping):
    // per (source, lang) document counts, exact-duplicate share (docs
    // whose content fingerprint appears more than once corpus-wide),
    // token and char totals. Scale shape: the duplicate count reuses
    // d1's fingerprint aggregation — both exchanges are keyed on the
    // 128-bit fp with integer payloads; text never crosses the wire.
    GraftQuery.sql("d26_source_mix",
      s"""WITH fp AS (SELECT doc_id, source, lang, n_chars,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f,
         |    len(regexp_split_to_array(trim(text), '\\s+')) AS toks FROM documents),
         |dup AS (SELECT f, COUNT(*) AS n FROM fp GROUP BY f)
         |SELECT source, lang, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN dup.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |  CAST(SUM(fp.toks) AS BIGINT) AS n_tokens,
         |  CAST(SUM(fp.n_chars) AS BIGINT) AS n_chars
         |FROM fp JOIN dup USING (f)
         |GROUP BY source, lang ORDER BY source, lang""".stripMargin) { (s, dir) =>
      import s.implicits._
      val fp = docs(s, dir)
        .select($"source", $"lang", $"n_chars",
          Text.fingerprint($"text").as("f"),
          Text.wsTokenCount($"text").as("toks"))
      val dup = fp.groupBy($"f").agg(count(lit(1)).as("n"))
      fp.join(dup, "f")
        .groupBy($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"n" > 1, 1L).otherwise(0L)).as("n_dup_docs"),
          sum($"toks").as("n_tokens"),
          sum($"n_chars").as("n_chars"))
        .orderBy($"source", $"lang")
    },

    // ---- d27: exact-substring duplication (the ExactSubstr policy of
    // Lee et al. 2022, window-hash form): for every document, how many
    // of its 16-token windows (every position, duplicates kept) also
    // appear in at least one OTHER document — the signal behind
    // "trim or drop documents with long spans copied elsewhere". The
    // 20% flag uses cross-multiplication so every emitted value is an
    // integer and the oracle is hash-exact. Scale shape: windows
    // collapse to 8-byte xxhash64s at the scan (shingle_hashes_all —
    // counts over hashes equal counts over strings sans a ~2^-64
    // collision); the document-frequency aggregate and the join-back
    // both shuffle (long, long) pairs with map-side partial aggregation;
    // window text never crosses an exchange.
    GraftQuery.sql("d27_substring_dup",
      s"""$normCte,
         |tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM nd),
         |w AS (SELECT doc_id, array_to_string(toks[i+1:i+16], ' ') AS g
         |  FROM tk, LATERAL (SELECT unnest(range(0, greatest(len(toks) - 15, 1))) AS i)),
         |dfq AS (SELECT g, COUNT(DISTINCT doc_id) AS ndocs FROM w GROUP BY g)
         |SELECT w.doc_id, COUNT(*) AS n_windows,
         |  CAST(SUM(CASE WHEN dfq.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
         |  CAST(CASE WHEN 5 * SUM(CASE WHEN dfq.ndocs >= 2 THEN 1 ELSE 0 END) >= COUNT(*)
         |    THEN 1 ELSE 0 END AS BIGINT) AS flagged
         |FROM w JOIN dfq USING (g)
         |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val w = docs(s, dir).repartition(p)
        .select($"doc_id", explode(Text.shingleHashesAll($"text", 16)).as("g"))
        .persist()
      // document frequency per window hash; only the (tiny) shared tail
      // survives the filter, so the join-back probe side is small
      val dup = w.groupBy($"g").agg(countDistinct($"doc_id").as("ndocs"))
        .filter($"ndocs" >= 2)
        .select($"g", lit(1).as("dup"))
      w.join(dup, Seq("g"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_windows"), count($"dup").as("n_dup_windows"))
        .select($"doc_id", $"n_windows", $"n_dup_windows",
          ($"n_dup_windows" * 5 >= $"n_windows").cast("long").as("flagged"))
        .orderBy($"doc_id")
    },

    // ---- d28: kNN label propagation over embeddings — the semantic
    // quality/domain classifier step of a curation pipeline: docs with
    // vec_id < 20 are treated as unlabeled and receive the majority
    // label of their 10 nearest labeled neighbors by cosine. Both
    // tie-breaks are total orders ((cos desc, neighbor_id) for the
    // neighbor set, (votes desc, label) for the vote), so the output is
    // deterministic and integer-only. Scale shape: same block-parallel
    // brute-force pairing as d10 (queries broadcast against the
    // labeled corpus, per-query top-k via window) — swap in the d11 IVF
    // probe for corpora where the full scan is too hot.
    GraftQuery.sql("d28_knn_label",
      s"""$nvCte,
         |pr AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, c.label,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM nv q JOIN nv c ON c.vec_id >= 20
         |  WHERE q.vec_id < 20),
         |rk AS (SELECT q_id, label,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
         |  FROM pr),
         |vt AS (SELECT q_id, label, COUNT(*) AS n_votes
         |  FROM rk WHERE rk <= 10 GROUP BY q_id, label),
         |wn AS (SELECT q_id, label, n_votes,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY n_votes DESC, label) AS vr
         |  FROM vt)
         |SELECT q_id, CAST(label AS BIGINT) AS pred_label, n_votes
         |FROM wn WHERE vr = 1 ORDER BY q_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val nv = embs(s, dir)
        .select($"vec_id", $"embedding", $"label", Vectors.norm($"embedding").as("nrm"))
      val q = nv.filter($"vec_id" < 20)
        .select($"vec_id".as("q_id"), $"embedding".as("eq"), $"nrm".as("nq"))
      val c = nv.filter($"vec_id" >= 20)
        .select($"vec_id".as("n_id"), $"embedding".as("ec"), $"nrm".as("nc"), $"label")
        .repartition(p)
      val wNbr = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
      val wVote = Window.partitionBy($"q_id").orderBy($"n_votes".desc, $"label")
      broadcast(q).join(c)
        .withColumn("cos", Vectors.cosineWithNorms($"eq", $"ec", $"nq", $"nc"))
        .withColumn("rk", row_number().over(wNbr))
        .filter($"rk" <= 10)
        .groupBy($"q_id", $"label")
        .agg(count(lit(1)).as("n_votes"))
        .withColumn("vr", row_number().over(wVote))
        .filter($"vr" === 1)
        .select($"q_id", $"label".cast("long").as("pred_label"), $"n_votes")
        .orderBy($"q_id")
    },

    // ---- d29: BM25 keyword retrieval (k1=1.2, b=0.75) — the lexical
    // search half of a curation/retrieval stack: top-15 documents for a
    // fixed 3-term query. All float math is an identically-shaped chain
    // of IEEE double ops on both engines (every input CAST to DOUBLE
    // before any division), the per-doc term sum goes through exact
    // DECIMAL accumulation so addition order can't perturb it, and the
    // ranking orders by the ROUNDED score so both engines rank the same
    // values. Scale shape: tf is a word-count-style partial aggregate
    // over only the query terms (the IN filter prunes at the scan); the
    // 3-row df side and the scalar (N, avgdl) stats broadcast; the
    // top-15 is a TakeOrdered, no global sort.
    GraftQuery.sql("d29_bm25",
      s"""$normCte,
         |tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM nd),
         |dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
         |st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM tk)
         |  WHERE term IN ('data', 'query', 'stream') GROUP BY doc_id, term),
         |dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id,
         |    ln(1 + (CAST(st.n - dfr.df AS DOUBLE) + 0.5) / (CAST(dfr.df AS DOUBLE) + 0.5))
         |      * (CAST(tf.tf AS DOUBLE) * 2.2)
         |      / (CAST(tf.tf AS DOUBLE)
         |         + 1.2 * (1 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE) / st.avgdl)) AS sco
         |  FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
         |ag AS (SELECT doc_id,
         |    ROUND(CAST(SUM(CAST(sco AS DECIMAL(30,12))) AS DOUBLE), 6) AS score
         |  FROM sc GROUP BY doc_id)
         |SELECT doc_id, score FROM ag ORDER BY score DESC, doc_id LIMIT 15""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.Column
      import org.apache.spark.sql.types.DecimalType
      val terms = Seq("data", "query", "stream")
      // ONE corpus scan: per-doc token length + a tf column per query
      // term via conditional aggregation over the exploded tokens (the
      // naive tf/df/dl-as-separate-joins shape re-scans and re-tokenizes
      // the corpus four times — this is the difference between 1x and 4x
      // the 100 TB read). Term count is query-sized (tiny), so the wide
      // form costs |terms| longs per doc.
      // persisted: both the scalar-stats branch and the scoring branch
      // read it — without the pin the corpus would be scanned (and
      // re-tokenized) twice. The cached relation is 1 row × 4 longs per
      // doc, negligible next to the text it replaces.
      val perDoc = docs(s, dir)
        .select($"doc_id", explode_outer(Text.tokens($"text")).as("term"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("dl"),
          terms.map(t => sum(when($"term" === t, 1L).otherwise(0L)).as(s"tf_$t")): _*)
        .persist()
      // scalar corpus stats (N, avgdl, per-term df) in one tiny agg row,
      // broadcast back — identical arithmetic shape to the oracle's CTEs
      val st = perDoc.agg(
        count(lit(1)).as("n"),
        (sum($"dl").cast("double") / count(lit(1))).as("avgdl") +:
          terms.map(t => sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t")): _*)
      def bm25(tf: Column, df: Column, dl: Column, n: Column, avgdl: Column): Column =
        when(tf > 0,
          log(lit(1) + ((n - df).cast("double") + 0.5) / (df.cast("double") + 0.5))
            * (tf.cast("double") * 2.2)
            / (tf.cast("double")
               + lit(1.2) * (lit(1) - 0.75 + lit(0.75) * dl.cast("double") / avgdl)))
          .otherwise(lit(0.0))
      // per-term doubles are bit-identical to the oracle's; the cross-
      // term sum goes through exact DECIMAL so order can't perturb it
      val score = terms
        .map(t => bm25(col(s"tf_$t"), col(s"df_$t"), $"dl", $"n", $"avgdl")
          .cast(DecimalType(30, 12)))
        .reduce(_ + _)
      perDoc.join(broadcast(st))
        .filter(terms.map(t => col(s"tf_$t")).reduce(_ + _) > 0)
        .select($"doc_id", round(score.cast("double"), 6).as("score"))
        .orderBy($"score".desc, $"doc_id")
        .limit(15)
    },

    // ---- d30: training-sequence packing (concat-and-chunk, the
    // GPT-style packing step): documents are concatenated in doc_id
    // order WITHIN each (source, lang) shard and split at a 256-token
    // context budget; each doc reports its start offset in the shard's
    // token stream and the chunk window(s) it spans. All integer math.
    // Scale shape: one token-count scan, then a single window cumsum
    // partitioned by (source, lang) — the shard key is exactly what a
    // 1000-executor packing job parallelizes on, so no global sort and
    // no single-partition window.
    GraftQuery.sql("d30_pack_sequences",
      s"""$normCte,
         |tc AS (SELECT doc_id, source, lang, len(string_split(norm, ' ')) AS n_tok FROM nd),
         |pk AS (SELECT doc_id, source, lang, n_tok,
         |    COALESCE(SUM(n_tok) OVER (PARTITION BY source, lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
         |  FROM tc)
         |SELECT doc_id, source, lang, CAST(n_tok AS BIGINT) AS n_tok,
         |  CAST(tok_start AS BIGINT) AS tok_start,
         |  CAST(tok_start // 256 AS BIGINT) AS first_chunk,
         |  CAST((tok_start + n_tok - 1) // 256 AS BIGINT) AS last_chunk,
         |  CAST((tok_start + n_tok - 1) // 256 - tok_start // 256 + 1 AS BIGINT) AS n_chunks
         |FROM pk ORDER BY source, lang, doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wPack = Window.partitionBy($"source", $"lang").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      docs(s, dir)
        .select($"doc_id", $"source", $"lang",
          size(Text.tokens($"text")).cast("long").as("n_tok"))
        .withColumn("tok_start", coalesce(sum($"n_tok").over(wPack), lit(0L)))
        .withColumn("first_chunk", expr("tok_start DIV 256"))
        .withColumn("last_chunk", expr("(tok_start + n_tok - 1) DIV 256"))
        .withColumn("n_chunks", $"last_chunk" - $"first_chunk" + 1L)
        .orderBy($"source", $"lang", $"doc_id")
    },

    // ---- d31: equal-token mixture planning (the UniMax-style sampling
    // schedule): per source, how many EPOCHS (full repeats) are needed
    // to bring it up to the largest source's token count, capped at 4 —
    // the training-mix step that decides how often each corpus shard is
    // repeated in an epoch-balanced schedule. Epochs are exact integer
    // ceil-division ((max + n − 1) div n), so the oracle is hash-exact.
    // Scale shape: one scan with a partial-aggregated per-source rollup
    // (sources are few), a 1-row max broadcast back — no second pass
    // over text.
    GraftQuery.sql("d31_mix_epochs",
      s"""WITH fp AS (SELECT source,
         |    len(regexp_split_to_array(trim(text), '\\s+')) AS toks FROM documents),
         |src AS (SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(toks) AS BIGINT) AS n_tokens FROM fp GROUP BY source),
         |mx AS (SELECT MAX(n_tokens) AS max_tok FROM src)
         |SELECT source, n_docs, n_tokens,
         |  CAST(LEAST((max_tok + n_tokens - 1) // n_tokens, 4) AS BIGINT) AS n_epochs,
         |  CAST(CASE WHEN (max_tok + n_tokens - 1) // n_tokens > 4
         |    THEN 1 ELSE 0 END AS BIGINT) AS capped
         |FROM src CROSS JOIN mx ORDER BY source""".stripMargin) { (s, dir) =>
      import s.implicits._
      val src = docs(s, dir)
        .select($"source", Text.wsTokenCount($"text").as("toks"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_tokens"))
        .persist() // two readers: the per-source rows and the 1-row max
      val mx = src.agg(max($"n_tokens").as("max_tok"))
      src.join(broadcast(mx))
        .withColumn("raw_epochs", expr("(max_tok + n_tokens - 1) DIV n_tokens"))
        .select($"source", $"n_docs", $"n_tokens",
          least($"raw_epochs", lit(4L)).as("n_epochs"),
          ($"raw_epochs" > 4L).cast("long").as("capped"))
        .orderBy($"source")
    },

    // ---- d32: per-source frequency-cap sampling (the "domain cap" /
    // anti-over-representation step of a corpus rebalance): keep at most
    // K docs per source, chosen by a DETERMINISTIC pseudo-random order —
    // md5 of the doc id — so the sample is reproducible across runs,
    // engines, and partitionings (seeded-rng samplers are not).
    // Scale shape: a naive row_number per source is one window sort per
    // source — a straggler when one source holds half the corpus. Here
    // selection is two-level: each of 32 salt cells takes its LOCAL
    // top-K by hash order (partial, map-side-friendly, bounded output
    // 32·K per source), and the global top-K per source is picked from
    // those ≤32·K survivors. Same answer by construction (the global
    // top-K is contained in the union of per-cell top-Ks), but the big
    // sort never happens: the heavy window runs inside (source, salt)
    // cells and the final window sees only survivors.
    GraftQuery.sql("d32_source_cap",
      """SELECT doc_id, source, sample_rank FROM (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
        |  FROM documents) t
        |WHERE sample_rank <= 15 ORDER BY source, sample_rank""".stripMargin) { (s, dir) =>
      import s.implicits._
      val K = 15
      val cells = 32
      val keyed = docs(s, dir).select($"doc_id", $"source",
        md5($"doc_id".cast("string").cast("binary")).as("hkey"),
        pmod(xxhash64($"doc_id"), lit(cells)).as("salt"))
      val wCell = Window.partitionBy($"source", $"salt").orderBy($"hkey", $"doc_id")
      val wSrc = Window.partitionBy($"source").orderBy($"hkey", $"doc_id")
      keyed
        .withColumn("cell_rank", row_number().over(wCell))
        .filter($"cell_rank" <= K)
        .withColumn("sample_rank", row_number().over(wSrc).cast("long"))
        .filter($"sample_rank" <= K)
        .select($"doc_id", $"source", $"sample_rank")
        .orderBy($"source", $"sample_rank")
    },

    // ---- d33: temperature-sampled mixture weights (the multilingual /
    // multi-source sampling-temperature step: p_i ∝ n_i^(1/T) with
    // 1/T = 0.5, i.e. sqrt scaling — upweights small sources without
    // letting them dominate). sqrt of an exact token count is IEEE-
    // correctly-rounded on both engines, so the per-source weight
    // numerators are bit-identical; the cross-source normalizer goes
    // through exact DECIMAL accumulation so summation order can't
    // perturb it (the d29 pattern).
    // Scale shape: one corpus scan with partial-aggregated per-source
    // rollup, a 1-row total broadcast back — the only full-data pass is
    // the token count.
    GraftQuery.sql("d33_temperature_mix",
      """WITH fp AS (SELECT source,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS toks FROM documents),
        |src AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(toks) AS BIGINT) AS n_tokens FROM fp GROUP BY source),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tok,
        |    SUM(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(30,12))) AS tot_sqrt
        |  FROM src)
        |SELECT source, n_docs, n_tokens,
        |  ROUND(CAST(n_tokens AS DOUBLE) / CAST(tot_tok AS DOUBLE), 6) AS w_prop,
        |  ROUND(CAST(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(30,12)) AS DOUBLE)
        |        / CAST(tot_sqrt AS DOUBLE), 6) AS w_temp,
        |  ROUND(CAST(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(30,12)) AS DOUBLE)
        |        / CAST(tot_sqrt AS DOUBLE)
        |        / (CAST(n_tokens AS DOUBLE) / CAST(tot_tok AS DOUBLE)), 4) AS boost
        |FROM src CROSS JOIN tot ORDER BY source""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val src = docs(s, dir)
        .select($"source", Text.wsTokenCount($"text").as("toks"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_tokens"))
        .persist() // two readers: per-source rows and the 1-row total
      val sqrtDec = sqrt($"n_tokens".cast("double")).cast(DecimalType(30, 12))
      val tot = src.agg(sum($"n_tokens").as("tot_tok"), sum(sqrtDec).as("tot_sqrt"))
      val wProp = $"n_tokens".cast("double") / $"tot_tok".cast("double")
      val wTemp = sqrtDec.cast("double") / $"tot_sqrt".cast("double")
      src.join(broadcast(tot))
        .select($"source", $"n_docs", $"n_tokens",
          round(wProp, 6).as("w_prop"),
          round(wTemp, 6).as("w_temp"),
          round(wTemp / wProp, 4).as("boost"))
        .orderBy($"source")
    },

    // ---- d34: exact set-CONTAINMENT near-dup join — ordered pairs
    // where |A∩B|/|A| >= 0.75 over word-3-shingle sets: the asymmetric
    // signal that catches a doc subsumed by a larger one (quoted page,
    // boilerplate-wrapped copy), which Jaccard misses when |B| >> |A|.
    // Runs operators.SimilarityJoin.containment (probe-prefix against
    // the full inverted index, lossless by pigeonhole, spec-proven);
    // the oracle brute-forces all ordered pairs. 0.75 is exactly
    // representable in binary so ceil(0.75·n) is exact on both engines.
    GraftQuery.sql("d34_containment_join",
      """WITH nd AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
        |tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM nd),
        |shg AS (SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(len(toks) - 3, 0) + 1),
        |    i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM tk)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
        |  CAST(len(a.sh) AS BIGINT) AS n_a,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / CAST(len(a.sh) AS DOUBLE), 6) AS containment
        |FROM shg a JOIN shg b ON a.doc_id != b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) >= CEIL(0.75 * len(a.sh))
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      graft.operators.SimilarityJoin.containment(
          shingleSets(s, dir), "doc_id", "sh", 0.75)
        .withColumn("containment",
          round($"inter".cast("double") / $"n_a".cast("double"), 6))
        .orderBy($"a_id", $"b_id")
    },

    // ---- d35: quality-weighted sampling (the DCLM-style resample:
    // high-quality docs kept outright, lower tiers kept with
    // probability 1/2 / 1/4) — decided by a DETERMINISTIC hash
    // threshold, not an RNG: a doc is kept iff the first hex byte of
    // md5(doc_id) is below the tier's threshold ('80' → p=1/2, '40' →
    // p=1/4). Lexicographic compare of lowercase hex is byte-identical
    // on every engine, so the sample is reproducible and the oracle
    // hash-exact — seeded-rng samplers are neither. Tiers from the d19
    // integer signals (stopword density). Scale: pure per-row
    // projection, no shuffle before the output sort.
    GraftQuery.sql("d35_quality_sample",
      s"""$normCte
         |, sig AS (SELECT doc_id,
         |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         |    len(list_filter(string_split(norm, ' '), t -> t IN ('the', 'a'))) AS n_stop,
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hb
         |  FROM nd)
         |SELECT doc_id,
         |  CAST(CASE WHEN n_stop * 20 >= n_words THEN 0
         |            WHEN n_stop * 50 >= n_words THEN 1 ELSE 2 END AS BIGINT) AS tier,
         |  CAST(CASE WHEN n_stop * 20 >= n_words THEN 1
         |            WHEN n_stop * 50 >= n_words THEN CASE WHEN hb < '80' THEN 1 ELSE 0 END
         |            ELSE CASE WHEN hb < '40' THEN 1 ELSE 0 END END AS BIGINT) AS kept
         |FROM sig ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val sig = docs(s, dir).select($"doc_id",
        Text.wsTokenCount($"text").as("n_words"),
        Text.markerCount($"text", stopwords).as("n_stop"),
        substring(md5($"doc_id".cast("string").cast("binary")), 1, 2).as("hb"))
      sig.select($"doc_id",
          when($"n_stop" * 20 >= $"n_words", 0L)
            .when($"n_stop" * 50 >= $"n_words", 1L).otherwise(2L).as("tier"),
          when($"n_stop" * 20 >= $"n_words", 1L)
            .when($"n_stop" * 50 >= $"n_words", ($"hb" < "80").cast("long"))
            .otherwise(($"hb" < "40").cast("long")).as("kept"))
        .orderBy($"doc_id")
    },

    // ---- d36: corpus-level adjacent-pair counts — the FIRST MERGE
    // iteration of BPE tokenizer training: which token bigram is most
    // frequent across the whole corpus (with multiplicity — BPE counts
    // occurrences, not documents). Scale shape: the canonical
    // map-side-combine wordcount — per-partition partial aggregation
    // collapses each partition to its distinct pairs before the
    // exchange, the shuffle key cardinality is bounded by the bigram
    // vocabulary (not the corpus), and the top-20 is a TakeOrdered, no
    // global sort. Total-order tiebreak (count desc, pair asc) keeps
    // the cut deterministic.
    GraftQuery.sql("d36_bpe_pairs",
      s"""$normCte
         |, tk AS (SELECT string_split(norm, ' ') AS toks FROM nd),
         |pr AS (SELECT unnest(list_transform(range(0, len(toks) - 1),
         |    i -> toks[i+1] || ' ' || toks[i+2])) AS pair
         |  FROM tk WHERE len(toks) >= 2)
         |SELECT pair, COUNT(*) AS n FROM pr
         |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
      import s.implicits._
      // bind the token array to a column FIRST: referencing
      // Text.tokens(text) inside the lambda would re-run the whole
      // split per element_at call — O(tokens²) re-tokenization per doc
      // (measured 7.3 s at sf0.1; 0.5 s bound)
      docs(s, dir)
        .select(Text.tokens($"text").as("toks"))
        .filter(size($"toks") >= 2)
        .select(explode(transform(
          sequence(lit(0), size($"toks") - 2),
          i => concat_ws(" ",
            element_at($"toks", i + 1), element_at($"toks", i + 2)))).as("pair"))
        .groupBy($"pair").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"pair")
        .limit(20)
    },

    // ---- d37: INCREMENTAL ingest dedup — the daily-batch form of the
    // dedup matrix (s9 = stream-vs-stream, s11 = stream-vs-static,
    // d1 = whole-corpus): a new batch of documents checked for exact
    // duplicates against the already-ingested corpus, each dup pointing
    // at its earliest existing copy. Scale shape: the existing corpus
    // collapses to (fingerprint → min doc_id) ONCE — one partial-
    // aggregated shuffle on the 128-bit fingerprint — and the new batch
    // left-joins that table on the same key; text never crosses an
    // exchange on either side.
    GraftQuery.sql("d37_incremental_dedup",
      s"""$normCte,
         |fp AS (SELECT doc_id, md5(norm) AS f FROM nd),
         |ref AS (SELECT f, MIN(doc_id) AS exact_dup_of FROM fp WHERE doc_id < 250 GROUP BY f),
         |tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM nd),
         |shg AS (SELECT doc_id, list_distinct(list_transform(
         |    range(0, greatest(len(toks) - 3, 0) + 1),
         |    i -> array_to_string(toks[i+1:i+3], ' '))) AS sh FROM tk),
         |nr AS (SELECT nw.doc_id, MIN(r.doc_id) AS near_dup_of
         |  FROM shg nw JOIN shg r ON nw.doc_id >= 250 AND r.doc_id < 250
         |    AND 3 * len(list_intersect(nw.sh, r.sh)) >= len(nw.sh) + len(r.sh)
         |  GROUP BY 1)
         |SELECT n.doc_id,
         |  CAST(CASE WHEN r.exact_dup_of IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_exact_dup,
         |  r.exact_dup_of,
         |  CAST(CASE WHEN nr.near_dup_of IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_near_dup,
         |  nr.near_dup_of
         |FROM fp n LEFT JOIN ref r ON n.f = r.f
         |  LEFT JOIN nr ON nr.doc_id = n.doc_id
         |WHERE n.doc_id >= 250 ORDER BY n.doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val fp = docs(s, dir).select($"doc_id", Text.fingerprint($"text").as("f"))
      val ref = fp.filter($"doc_id" < 250)
        .groupBy($"f").agg(min($"doc_id").as("exact_dup_of"))
      // near-dup side: the shared exact-Jaccard edge engine (persisted
      // across d13/d17/d23/d37); a_id < b_id always, so cross-boundary
      // edges are exactly a_id(ref) < 250 <= b_id(new). J >= 0.5 is the
      // operator's own threshold; the oracle states it integer-exactly
      // as 3·inter >= |A| + |B|.
      val near = jaccardEdges(s, dir)
        .filter($"a_id" < 250 && $"b_id" >= 250)
        .groupBy($"b_id".as("doc_id"))
        .agg(min($"a_id").as("near_dup_of"))
      fp.filter($"doc_id" >= 250)
        .join(ref, Seq("f"), "left")
        .join(near, Seq("doc_id"), "left")
        .select($"doc_id",
          $"exact_dup_of".isNotNull.cast("long").as("is_exact_dup"), $"exact_dup_of",
          $"near_dup_of".isNotNull.cast("long").as("is_near_dup"), $"near_dup_of")
        .orderBy($"doc_id")
    },

    // ---- d38: SEMANTIC dedup (SemDeDup, Abbas et al. 2023): embeddings
    // whose cosine clears the threshold are near-duplicates even when
    // they share no n-grams; connected components over those edges give
    // each vector a cluster representative and "keep one per semantic
    // cluster" falls out — the third cell of the dedup matrix (exact d1,
    // lexical-near d6/d18, semantic-near here). Edge generation below is
    // the exact d9 baseline so the recursive-CTE oracle can check the
    // whole operator; at 100 TB the edge generator swaps for the IVF/LSH
    // candidate set (d11/d16) with the identical componentization —
    // SemDeDup's own formulation clusters first for exactly that reason.
    GraftQuery.sql("d38_semdedup",
      s"""WITH RECURSIVE nv AS (SELECT vec_id, embedding,
         |  sqrt(list_sum(list_transform(range(len(embedding)),
         |       i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |pr AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM nv a JOIN nv b ON a.vec_id < b.vec_id
         |  WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4),
         |e AS (SELECT a_id AS src, b_id AS dst FROM pr
         |  UNION ALL SELECT b_id, a_id FROM pr),
         |reach AS (SELECT vec_id AS a, vec_id AS b FROM nv
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
         |lab AS (SELECT a AS vec_id, MIN(b) AS cluster_id FROM reach GROUP BY a)
         |SELECT vec_id, cluster_id,
         |  CAST(CASE WHEN vec_id = cluster_id THEN 1 ELSE 0 END AS BIGINT) AS is_kept
         |FROM lab ORDER BY vec_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.operators.SemDedup
      SemDedup.components(s, embs(s, dir),
          SemDedup.exactEdges(s, embs(s, dir), 0.4))
        .orderBy($"vec_id")
    },

    // ---- d44: d38's SCALE path made real — the same semantic
    // componentization over IVF multi-probe candidate edges
    // (SemDedup.annEdges: bucket join on shared probed clusters →
    // exact cosine verify → the identical DedupClusters call). The
    // quadratic pair generation is bounded per bucket (~nprobe·n/C
    // vectors), which is what survives 100 TB where d38's all-pairs
    // baseline cannot. A qualifying pair whose probe sets are disjoint
    // is missed — probabilistic BY DESIGN — but since the lattice
    // rebase the approximation itself is deterministic and the oracle
    // replays it exactly (buckets → cosine verify → components);
    // AnnSpec separately pins edge recall and component-label
    // agreement against the exact d38 path. The oracle replays
    // adaptiveClusters IN SQL (subquery LIMIT on the seed CTE), so its
    // cluster count tracks the operator's at any corpus size — at the
    // driver gate both resolve to the floor C=16; at sf1 both to 32.
    GraftQuery.sql("d44_semdedup_ann",
      semdedupAnnOracleSql(iters = 1, nprobe = 4, threshold = 0.4)) { (s, dir) =>
      import s.implicits._
      import graft.operators.SemDedup
      // numClusters adapts to constant bucket occupancy (C ∝ n above
      // the floor) — total candidate work LINEAR in the corpus (C=16
      // fixed measured 4.7× time at 4× vectors; buckets regain the
      // quadratic). At the gate SFs (n ≤ 2000) this resolves to the
      // same C=16 the parity spec pins.
      SemDedup.components(s, embs(s, dir),
          SemDedup.annEdges(s, embs(s, dir), 0.4, nprobe = 4,
            corpusDir = Some(dir)))
        .orderBy($"vec_id")
    },

    // ---- d45: ITERATED BPE training (BpeTrain) — k=6 corpus-level
    // greedy merges with a full pair recount between rounds, the
    // iteration d36's single round leads into. The whole loop is
    // oracle-checked: the double-space replace trick expresses greedy
    // left-to-right merging as ONE literal string replace per round,
    // identical in Spark and DuckDB, so the unrolled 6-round CTE chain
    // (generated by bpeOracleSql) recomputes the exact merge sequence
    // AND the post-merge corpus token totals. BpeSpec re-derives both
    // with a plain-Scala fold as a third independent implementation.
    GraftQuery.sql("d45_bpe_train", bpeOracleSql(6)) { (s, dir) =>
      import s.implicits._
      // trainCached: d45 and d47 share one training pipeline per corpus
      // per session (trained merges are deterministic over the immutable
      // testdata dir) — whichever runs first pays the k-round recount.
      graft.operators.BpeTrain.trainCached(s,
          docs(s, dir).select(Text.normalize($"text").as("norm")), "norm",
          k = 6, dir = dir)
        .orderBy($"step")
    },

    // ---- d48: rare-bigram fluency flag — the corpus-statistics
    // quality signal a perplexity filter (CCNet-style) approximates
    // without a language model: the share of a doc's bigram OCCURRENCES
    // whose corpus-wide frequency is below 3 (word salad has many
    // near-unique transitions; fluent text repeats the corpus's
    // n-grams). All-integer output (occurrence counts + basis points),
    // flag at >3% rare (the corpus's tiny synthetic vocabulary makes
    // bigram repetition the norm; 3% is the empirical 99th-percentile
    // tail here — a natural corpus would flag far higher rates).
    // Complements d22 (within-doc repetition) and
    // d36 (corpus pair stats) with a cross-doc fluency measure.
    // Scale shape: ONE token pass → (doc, bigram) partial aggregate;
    // the corpus-wide count is a whole-partition window SUM over the
    // bigram partitioning (no ORDER BY → no sort) — one exchange keyed
    // on the pair, no join, and crucially no second tokenization scan
    // (the aggregate-then-self-join form re-derived the corpus for the
    // count side once AQE broadcast it); the per-doc rollup rides one
    // doc_id exchange. No collect.
    GraftQuery.sql("d48_rare_bigram_flag",
      s"""$normCte
         |, tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM nd),
         |bg AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 1),
         |    i -> toks[i+1] || ' ' || toks[i+2])) AS pair
         |  FROM tk WHERE len(toks) >= 2),
         |db AS (SELECT doc_id, pair, COUNT(*) AS k FROM bg GROUP BY 1, 2),
         |cb AS (SELECT pair, SUM(k) AS n FROM db GROUP BY 1),
         |agg AS (SELECT db.doc_id, SUM(db.k) AS n_bi,
         |    SUM(CASE WHEN cb.n < 3 THEN db.k ELSE 0 END) AS n_rare
         |  FROM db JOIN cb USING (pair) GROUP BY 1)
         |SELECT doc_id, CAST(n_bi AS BIGINT) AS n_bi,
         |  CAST(n_rare AS BIGINT) AS n_rare,
         |  CAST(n_rare * 10000 // n_bi AS BIGINT) AS rare_bp,
         |  (n_rare * 100 > n_bi * 3) AS flagged
         |FROM agg ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val db = docs(s, dir)
        .select($"doc_id", Text.tokens($"text").as("toks"))
        .filter(size($"toks") >= 2)
        .select($"doc_id", explode(transform(
          sequence(lit(0), size($"toks") - 2),
          i => concat_ws(" ",
            element_at($"toks", i + 1), element_at($"toks", i + 2)))).as("pair"))
        .groupBy($"doc_id", $"pair").agg(count(lit(1)).as("k"))
      db.withColumn("n", sum($"k").over(Window.partitionBy($"pair")))
        .groupBy($"doc_id")
        .agg(sum($"k").as("n_bi"),
          sum(when($"n" < 3, $"k").otherwise(0L)).as("n_rare"))
        .select($"doc_id", $"n_bi", $"n_rare",
          expr("n_rare * 10000 div n_bi").as("rare_bp"),
          ($"n_rare" * 100 > $"n_bi" * 3).as("flagged"))
        .orderBy($"doc_id")
    },

    // ---- d47: APPLY the trained tokenizer — d45's six learned merges
    // run over the corpus as one six-deep replace projection (the same
    // applyMerge expression training used, so train/apply can't skew),
    // reporting per-doc token counts before/after and the compression
    // in integer basis points. Completes the tokenizer arc: d25 vocab →
    // d36 pair stats → d45 train → HERE apply → d41 coverage. Docs with
    // empty normalized text are out of scope (they have no tokens).
    // Scale shape: training cost is d45's (k bounded jobs, one (pair)
    // row to the driver per round); application is a single map-side
    // projection pass — the merge literals ride into tasks like a
    // broadcast, no join, no shuffle at all.
    GraftQuery.sql("d47_bpe_apply",
      s"""${bpeRoundsCte(6)}
         |SELECT b.doc_id, CAST(len(string_split(b.s, ' ')) AS BIGINT) AS n_tok,
         |  CAST(len(string_split(a.s, ' ')) AS BIGINT) AS n_bpe,
         |  CAST((len(string_split(b.s, ' ')) - len(string_split(a.s, ' '))) * 10000
         |    // len(string_split(b.s, ' ')) AS BIGINT) AS saved_bp
         |FROM d0 b JOIN d6 a USING (doc_id) ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val corpus = docs(s, dir)
        .select($"doc_id", Text.normalize($"text").as("norm"))
        .filter(length($"norm") > 0)
      // trainCached (see d45): shares the trained merge sequence with
      // d45 in-session instead of recounting the corpus six more times.
      val merges = graft.operators.BpeTrain
        .trainCached(s, corpus.select($"norm"), "norm", k = 6, dir = dir)
        .orderBy($"step").collect().map(_.getString(1)).toSeq
      val applied = merges.foldLeft($"norm".as("s"): org.apache.spark.sql.Column)(
        (c, p) => graft.operators.BpeTrain.applyMerge(c, p))
      corpus
        .withColumn("n_tok", size(split($"norm", " ")).cast("long"))
        .withColumn("n_bpe", size(split(applied, " ")).cast("long"))
        .select($"doc_id", $"n_tok", $"n_bpe",
          expr("(n_tok - n_bpe) * 10000 div n_tok").as("saved_bp"))
        .orderBy($"doc_id")
    },

    // ---- d46: EXACT k-means over embeddings (KMeans.fit, k=8, 3 Lloyd
    // rounds) — the corpus-partitioning step SemDeDup-style pipelines
    // cluster with before per-cluster dedup, made bit-exact by running
    // every step on the 2^-20 integer lattice: quantization, BIGINT
    // squared-L2 argmin, and centroids re-rounded to the lattice each
    // round by round-half-up integer division (float k-means would
    // hash-diverge on FP summation order). Deterministic lowest-vec_id
    // seeds, lowest-k tie-break. The oracle unrolls all three rounds
    // plus the output assignment; KMeansSpec re-derives the same fit
    // with a plain-Scala loop and checks lattice-vs-float centroid
    // drift is sub-cell.
    // Scale shape: assignment is a map-side fold over a k×dim centroid
    // literal (no Exchange — AnnIvf's discipline); each update shuffles
    // k·dim (sum, count) cells, never vectors; the driver holds k·dim
    // longs per round.
    GraftQuery.sql("d46_kmeans_embed", kmeansOracleSql(8, 3)) { (s, dir) =>
      import s.implicits._
      // fitCached: d46 fits the (k=8, 3-round) clustering d68 samples
      // from — one Lloyd run per corpus per session serves both.
      graft.operators.KMeans.fitCached(s, embs(s, dir), k = 8, iters = 3,
        dir = dir)
        .orderBy($"vec_id")
    },

    // ---- d39: per-document top-3 TF-IDF keywords (linear-idf variant:
    // score = tf/df — same ranking as tf·(N/df) since N is constant, and
    // unlike log-idf the score needs no transcendental whose last ulp
    // could differ across engines; IEEE division is correctly rounded,
    // so the ordering is bit-reproducible). Output is all-integer.
    // Scale shape: tokens partial-aggregate into (doc, term, tf) — the
    // only pass over the corpus; df aggregates the tf table (vocabulary-
    // sized) and joins back ON ITS OWN term partitioning (no extra
    // exchange); the per-doc top-3 is one window over the doc_id
    // exchange. No collect, no per-doc sort of the corpus.
    GraftQuery.sql("d39_tfidf_terms",
      s"""$normCte,
         |tk AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM nd),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY doc_id, term),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |rk AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
         |      ORDER BY tf.tf / df.df DESC, tf.term) AS rk
         |  FROM tf JOIN df USING (term))
         |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
         |  CAST(rk AS BIGINT) AS rk
         |FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (s, dir) =>
      import s.implicits._
      val tf = docs(s, dir)
        .select($"doc_id", explode(Text.tokens($"text")).as("term"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy($"doc_id")
        .orderBy(($"tf".cast("double") / $"df".cast("double")).desc, $"term")
      tf.join(df, "term")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 3)
        .select($"doc_id", $"term", $"tf", $"df", $"rk")
        .orderBy($"doc_id", $"rk")
    },

    // ---- d40: inter-source duplication matrix — the crawl-overlap
    // report run before mixing corpora: for every source pair, the
    // near-dup pair count (shared exact-Jaccard edges, reusing the
    // persisted d18 engine) and the number of exact fingerprints present
    // in both sources. The exact side counts shared FINGERPRINTS, not
    // doc pairs: (fp, source) is distinct-ed first, so a fingerprint
    // duplicated k times across two sources contributes one, and the
    // per-fp pair fanout is bounded by (#sources choose 2) — a constant,
    // never quadratic in copies. Scale: both aggregates shuffle on
    // 8/16-byte keys; the output is #source² rows.
    GraftQuery.sql("d40_source_overlap",
      s"""$simCte,
         |dsrc AS (SELECT doc_id, source FROM documents),
         |np AS (SELECT least(x.source, y.source) AS source_a,
         |    greatest(x.source, y.source) AS source_b, COUNT(*) AS n_near_pairs
         |  FROM pr JOIN dsrc x ON pr.a_id = x.doc_id
         |    JOIN dsrc y ON pr.b_id = y.doc_id
         |  WHERE pr.jaccard >= 0.5 AND x.source <> y.source
         |  GROUP BY 1, 2),
         |fps AS (SELECT DISTINCT md5(nd.norm) AS f, dsrc.source
         |  FROM nd JOIN dsrc USING (doc_id)),
         |xp AS (SELECT a.source AS source_a, b.source AS source_b,
         |    COUNT(*) AS n_shared_fp
         |  FROM fps a JOIN fps b ON a.f = b.f AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT COALESCE(np.source_a, xp.source_a) AS source_a,
         |  COALESCE(np.source_b, xp.source_b) AS source_b,
         |  CAST(COALESCE(n_near_pairs, 0) AS BIGINT) AS n_near_pairs,
         |  CAST(COALESCE(n_shared_fp, 0) AS BIGINT) AS n_shared_fp
         |FROM np FULL OUTER JOIN xp
         |  ON np.source_a = xp.source_a AND np.source_b = xp.source_b
         |ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
      import s.implicits._
      val src = docs(s, dir).select($"doc_id", $"source")
      val near = jaccardEdges(s, dir)
        .join(src.select($"doc_id".as("a_id"), $"source".as("sa")), "a_id")
        .join(src.select($"doc_id".as("b_id"), $"source".as("sb")), "b_id")
        .filter($"sa" =!= $"sb")
        .groupBy(least($"sa", $"sb").as("source_a"),
          greatest($"sa", $"sb").as("source_b"))
        .agg(count(lit(1)).as("n_near_pairs"))
      val fps = docs(s, dir)
        .select(Text.fingerprint($"text").as("f"), $"source").distinct()
      val exact = fps.as("a").join(fps.as("b"),
          $"a.f" === $"b.f" && $"a.source" < $"b.source")
        .groupBy($"a.source".as("source_a"), $"b.source".as("source_b"))
        .agg(count(lit(1)).as("n_shared_fp"))
      near.join(exact, Seq("source_a", "source_b"), "full_outer")
        .select($"source_a", $"source_b",
          coalesce($"n_near_pairs", lit(0L)).as("n_near_pairs"),
          coalesce($"n_shared_fp", lit(0L)).as("n_shared_fp"))
        .orderBy($"source_a", $"source_b")
    },

    // ---- d41: tokenizer coverage / OOV analysis — the report run
    // before committing to a vocabulary: per doc, how many tokens fall
    // outside the corpus's top-K terms (multiset tf, deterministic
    // (count desc, term) cut). Scale shape: one token pass builds the
    // vocabulary aggregate, TakeOrdered keeps the top-K (no full sort;
    // K=10 here because the synthetic corpus has a ~31-term vocabulary —
    // a real corpus would use the tokenizer's 32k-ish budget),
    // the K-row vocab broadcasts into the per-doc flag join — a second
    // map-side pass, no corpus re-shuffle. Output is all-integer
    // (OOV rate in basis points via integer division).
    GraftQuery.sql("d41_tokenizer_coverage",
      s"""$normCte,
         |tk AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM nd),
         |tf AS (SELECT term, COUNT(*) AS cnt FROM tk GROUP BY term),
         |voc AS (SELECT term FROM tf ORDER BY cnt DESC, term LIMIT 10),
         |d AS (SELECT tk.doc_id, COUNT(*) AS n_tokens,
         |    SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_oov
         |  FROM tk LEFT JOIN voc v ON tk.term = v.term GROUP BY tk.doc_id)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_oov AS BIGINT) AS n_oov,
         |  CAST(n_oov * 10000 // n_tokens AS BIGINT) AS oov_bp
         |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val tk = docs(s, dir)
        .select($"doc_id", explode(Text.tokens($"text")).as("term"))
      val voc = tk.groupBy($"term").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"term").limit(10)
        .select($"term", lit(1).as("in_vocab"))
      tk.join(broadcast(voc), Seq("term"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
        .select($"doc_id", $"n_tokens", $"n_oov",
          // integer div, not double `/`: a float quotient one ulp above
          // the true value would truncate UP and break the hash
          expr("n_oov * 10000 div n_tokens").as("oov_bp"))
        .orderBy($"doc_id")
    },

    // ---- d42: length-percentile trimming — drop each language's
    // shortest/longest ~5% by token count (the curation gate against
    // fragments and concatenation artifacts). The P5/P95 cuts derive
    // from a VALUE-DOMAIN histogram: per-(lang, n_tok) counts (tiny —
    // token counts are small integers), cumulated per lang with e15's
    // integer threshold idiom (20·cum ≥ n / 20·cum ≥ 19·n), thresholds
    // broadcast back over the corpus — no per-lang window sort of the
    // corpus ever happens, so the shape survives 100 TB (q20's exact
    // per-group sort is the anti-pattern here).
    GraftQuery.sql("d42_length_trim",
      s"""$normCte,
         |t AS (SELECT doc_id, lang, len(string_split(norm, ' ')) AS n_tok FROM nd),
         |h AS (SELECT lang, n_tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
         |cum AS (SELECT lang, n_tok, c,
         |    SUM(c) OVER (PARTITION BY lang ORDER BY n_tok
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    SUM(c) OVER (PARTITION BY lang) AS n
         |  FROM h),
         |thr AS (SELECT lang,
         |    MIN(CASE WHEN 20 * cum >= n THEN n_tok END) AS lo,
         |    MIN(CASE WHEN 20 * cum >= 19 * n THEN n_tok END) AS hi
         |  FROM cum GROUP BY lang)
         |SELECT t.doc_id, t.lang, CAST(t.n_tok AS BIGINT) AS n_tok,
         |  CAST(CASE WHEN t.n_tok >= thr.lo AND t.n_tok <= thr.hi
         |       THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM t JOIN thr ON t.lang = thr.lang
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val t = docs(s, dir)
        .select($"doc_id", $"lang", size(Text.tokens($"text")).cast("long").as("n_tok"))
      val h = t.groupBy($"lang", $"n_tok").agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy($"lang").orderBy($"n_tok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy($"lang")
      val thr = h
        .withColumn("cum", sum($"c").over(wCum))
        .withColumn("n", sum($"c").over(wAll))
        .groupBy($"lang")
        .agg(min(when($"cum" * 20 >= $"n", $"n_tok")).as("lo"),
          min(when($"cum" * 20 >= $"n" * 19, $"n_tok")).as("hi"))
      t.join(broadcast(thr), "lang")
        .select($"doc_id", $"lang", $"n_tok",
          ($"n_tok" >= $"lo" && $"n_tok" <= $"hi").cast("long").as("kept"))
        .orderBy($"doc_id")
    },

    // ---- d43: SURVIVORSHIP policy — which copy of a near-dup cluster
    // to keep is a real pipeline knob, and min-id (d13/d17's choice) is
    // only the simplest answer. This entry keeps the MOST COMPLETE
    // copy: longest normalized text, min doc_id among ties — over the
    // same exact-Jaccard components as d13, proving the policy is
    // pluggable downstream of the (unchanged) clustering. Scale shape:
    // the argmax is ONE aggregate per cluster via max(struct(len,
    // -doc_id)) — no per-cluster window sort of the corpus — joined
    // back on cluster_id.
    GraftQuery.sql("d43_survivorship",
      s"""$simCte,
         |$ccCte,
         |ln AS (SELECT doc_id, CAST(length(norm) AS BIGINT) AS n FROM nd),
         |j AS (SELECT lab.doc_id, lab.cluster_id, ln.n
         |  FROM lab JOIN ln USING (doc_id)),
         |best AS (SELECT cluster_id, MAX(n) AS bn FROM j GROUP BY 1),
         |keep AS (SELECT j.cluster_id, MIN(j.doc_id) AS keep_id
         |  FROM j JOIN best ON j.cluster_id = best.cluster_id AND j.n = best.bn
         |  GROUP BY 1)
         |SELECT j.doc_id, j.cluster_id, j.n AS n_chars_norm,
         |  CAST(CASE WHEN j.doc_id = keep.keep_id THEN 1 ELSE 0 END AS BIGINT) AS is_kept
         |FROM j JOIN keep ON j.cluster_id = keep.cluster_id
         |ORDER BY j.doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val labels = graft.operators.DedupClusters.assign(
        docs(s, dir).select($"doc_id"),
        jaccardEdges(s, dir).select($"a_id", $"b_id"))
      val withLen = labels.join(
        docs(s, dir).select($"doc_id",
          length(Text.normalize($"text")).cast("long").as("n")),
        "doc_id")
      val keep = withLen.groupBy($"cluster_id")
        .agg(max(struct($"n", (-$"doc_id").as("neg"))).as("best"))
        .select($"cluster_id", (-$"best.neg").as("keep_id"))
      withLen.join(keep, "cluster_id")
        .select($"doc_id", $"cluster_id", $"n".as("n_chars_norm"),
          ($"doc_id" === $"keep_id").cast("long").as("is_kept"))
        .orderBy($"doc_id")
    },

    // ---- d52: the FULL Gopher repetition signal set (Rae et al. 2022,
    // Table A1 — d22 covers only the top-bigram count). Two families,
    // all integer char counting so the hash is exact:
    //   (a) top-n-gram char mass for n = 2,3,4: occurrences × gram
    //       length of the doc's most frequent n-gram (ties broken
    //       count desc, gram length desc, md5 desc — identical
    //       total order both engines);
    //   (b) duplicated-n-gram char coverage for n = 5..10: characters
    //       of tokens covered by ANY within-doc n-gram occurring >= 2
    //       times (position-union via the exists test, not double
    //       counting overlaps).
    // Scale shape: all six window families materialize from the single
    // token pass in ONE flatten/explode; the dup test is a partial-
    // aggregated exchange keyed (doc_id, n, md5) with integer payloads;
    // start lists ride back on one doc_id exchange and the per-token
    // coverage test is an exists() over a per-(doc,n) start array whose
    // length is bounded by the doc's own window count — nothing here is
    // corpus-quadratic, and nothing shuffles gram text (md5 only).
    GraftQuery.sql("d52_repetition_suite", repetitionSuiteOracle) { (s, dir) =>
      import s.implicits._
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val tk = docs(s, dir).repartition(p) // the local corpus arrives as ONE split
        .filter(length(Text.normalize($"text")) > 0)
        .select($"doc_id", Text.tokens($"text").as("toks"))
      val base = tk.select($"doc_id", size($"toks").cast("long").as("n_tok"),
        length(concat_ws("", $"toks")).cast("long").as("n_chars_tok"))
      // (a) top-n-gram char mass, one hashed-gram pass per n (d22's shape)
      def top(n: Int): DataFrame = tk
        .filter(size($"toks") >= n)
        .select($"doc_id", explode(transform(
          sequence(lit(1), size($"toks") - (n - 1)),
          i => concat_ws(" ", slice($"toks", i, lit(n))))).as("g"))
        .select($"doc_id", md5($"g").as("mh"), length($"g").cast("long").as("gw"))
        .groupBy($"doc_id", $"mh")
        .agg(max($"gw").as("gw"), count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(max(struct($"c", $"gw", $"mh")).as("t"))
        .select($"doc_id", $"t.c".as(s"top${n}_c"),
          ($"t.c" * $"t.gw").as(s"top${n}_chars"))
      // (b) duplicated-n-gram coverage, n = 5..10 in one explode
      val covNs = 5 to 10
      val winTpe = "array<struct<n:int,pos:int,mh:string>>"
      val winCols = covNs.map(n =>
        when(size($"toks") >= n, transform(
          sequence(lit(1), size($"toks") - (n - 1)),
          i => struct(lit(n).as("n"), i.as("pos"),
            md5(concat_ws(" ", slice($"toks", i, lit(n)))).as("mh"))))
          .otherwise(lit(null).cast(winTpe)))
      val wins = tk
        .select($"doc_id", explode(flatten(filter(array(winCols: _*), a => a.isNotNull))).as("w"))
        .select($"doc_id", $"w.n".as("n"), $"w.pos".as("pos"), $"w.mh".as("mh"))
      val startArrs = wins.groupBy($"doc_id", $"n", $"mh")
        .agg(count(lit(1)).as("c"), collect_list($"pos").as("ps"))
        .filter($"c" >= 2)
        .select($"doc_id", $"n", explode($"ps").as("pos"))
        .groupBy($"doc_id", $"n").agg(collect_list($"pos").as("ss"))
      val tok = tk.select($"doc_id", posexplode($"toks")).toDF("doc_id", "q0", "tok")
        .select($"doc_id", ($"q0" + 1).as("q"), length($"tok").cast("long").as("w"))
      // merge hint: the start-position side carries per-doc position
      // ARRAYS whose real size Catalyst underestimates — left to the
      // planner it broadcast this side, which at sf1 overran the
      // driver's broadcast build. Both sides are doc_id-keyed, so the
      // co-partitioned sort-merge join is the shape that scales.
      val cov = tok.join(startArrs.hint("merge"), Seq("doc_id"))
        .withColumn("covered",
          exists($"ss", x => x <= $"q" && x >= $"q" - ($"n" - 1)))
        .groupBy($"doc_id", $"n")
        .agg(sum(when($"covered", $"w").otherwise(0L)).as("cov_chars"))
      val covWide = cov.groupBy($"doc_id")
        .agg(covNs.map(n =>
          max(when($"n" === n, $"cov_chars")).as(s"dup${n}_chars")).head,
          covNs.map(n =>
            max(when($"n" === n, $"cov_chars")).as(s"dup${n}_chars")).tail: _*)
      val topCols = (2 to 4).flatMap(n =>
        Seq(coalesce(col(s"top${n}_c"), lit(0L)).as(s"top${n}_c"),
          coalesce(col(s"top${n}_chars"), lit(0L)).as(s"top${n}_chars")))
      val dupCols = covNs.map(n =>
        coalesce(col(s"dup${n}_chars"), lit(0L)).as(s"dup${n}_chars"))
      base.join(top(2), Seq("doc_id"), "left")
        .join(top(3), Seq("doc_id"), "left")
        .join(top(4), Seq("doc_id"), "left")
        .join(covWide, Seq("doc_id"), "left")
        .select(($"doc_id" +: $"n_tok" +: $"n_chars_tok" +: (topCols ++ dupCols)): _*)
        .orderBy($"doc_id")
    },

    // ---- d53: n-gram novelty vs the corpus-so-far (curation-order
    // signal: how much UNSEEN content each doc contributes, the curve
    // dataset builders watch to decide when a source is mined out).
    // A doc's distinct word-8-grams are novel iff no lower-doc_id doc
    // contains them; share in integer basis points. Scale shape: the
    // first-occurrence table is one exchange keyed on the 8-byte gram
    // hash (min doc_id partial-aggregates map-side); the join back
    // rides that same key partitioning; the rollup is one doc_id
    // exchange. Gram text never leaves the scan (native shingle_hashes).
    GraftQuery.sql("d53_ngram_novelty",
      s"""$normCte,
         |tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM nd
         |  WHERE length(norm) > 0),
         |dg AS (SELECT DISTINCT doc_id, array_to_string(toks[i+1:i+8], ' ') AS g
         |  FROM tk, LATERAL (SELECT unnest(range(0,
         |    greatest(len(toks) - 8, 0) + 1)) AS i) u),
         |f AS (SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY g)
         |SELECT dg.doc_id, COUNT(*) AS n_grams,
         |  CAST(SUM(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  CAST(SUM(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END)
         |    * 10000 AS BIGINT) // COUNT(*) AS novelty_bp
         |FROM dg JOIN f USING (g)
         |GROUP BY dg.doc_id ORDER BY dg.doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      // same clamp convention as d20/d24/d69: a short doc contributes its
      // ONE partial shingle (the shingleHashes contract), and empty-norm
      // docs are excluded on both sides — without this the oracle's
      // zero-gram short-doc arm and Spark's one-partial-shingle arm
      // diverge on any corpus with sub-8-token documents
      val dg = docs(s, dir).repartition(p) // the local corpus arrives as ONE split
        .filter(length(Text.normalize($"text")) > 0)
        .select($"doc_id", explode(Text.shingleHashes($"text", 8)).as("g"))
      val firsts = dg.groupBy($"g").agg(min($"doc_id").as("first_doc"))
      dg.join(firsts, "g")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(($"first_doc" === $"doc_id").cast("long")).as("n_novel"))
        .withColumn("novelty_bp", expr("n_novel * 10000 div n_grams"))
        .orderBy($"doc_id")
    },

    // ---- d54: rendezvous-hash shard assignment (highest-random-weight,
    // Thaler & Ravishankar 1996) — the deterministic doc→shard routing a
    // distributed tokenization/embedding job needs: each doc goes to
    // argmax over shards of md5(doc_id:shard), so resizing N→N+1 moves
    // only ~1/(N+1) of docs (vs ~all for mod-N) and assignment needs no
    // coordination or lookup table. Emits the per-shard balance report
    // (docs / tokens / chars) a capacity planner reads. Scale shape: the
    // argmax folds over an unrolled 8-struct literal per row — pure
    // map-side, no explode, no shuffle before the 8-group rollup.
    GraftQuery.sql("d54_rendezvous_shards",
      """WITH a AS (SELECT doc_id, n_chars,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
        |    shard, md5(doc_id || ':' || shard) AS h
        |  FROM documents, LATERAL (SELECT unnest(range(0, 8)) AS shard) u),
        |pick AS (SELECT doc_id, n_tok, n_chars, shard FROM a
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY h DESC, shard DESC) = 1)
        |SELECT shard, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_shard_chars,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM pick GROUP BY shard ORDER BY shard""".stripMargin) { (s, dir) =>
      import s.implicits._
      val nShards = 8
      val cand = array((0 until nShards).map(sh =>
        struct(md5(concat($"doc_id".cast("string"), lit(":"),
          lit(sh).cast("string"))).as("h"), lit(sh.toLong).as("shard"))): _*)
      docs(s, dir)
        .select($"doc_id", Text.wsTokenCount($"text").as("n_tok"), $"n_chars",
          array_max(cand).getField("shard").as("shard"))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
          sum($"n_chars").as("n_shard_chars"),
          min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
        .orderBy($"shard")
    },

    // ---- d12: multimodal plumbing — binary payload column + typed
    // metadata through the batched per-partition extraction operator
    // (decode stubbed; schema/encoder/batching real — see
    // operators.Multimodal). Like d59/d60, the stub codec's byte
    // algebra over the ASCII corpus IS SQL-expressible, so this entry
    // carries a full hash oracle: the query surfaces the
    // INTEGER-EXACT feature columns — byte_sum (recovered exactly
    // from mean_byte·n_bytes: the product's error is ≪ 0.5 for any
    // sum < 2^52, so round() is lossless), mean in integer basis
    // points, and the 64-bit histogram-sign phash (bucket > n/64.0
    // over doubles ⟺ 64·bucket > n over integers — exact both
    // sides; ASCII ⇒ only buckets 0..31 can light up). byte_entropy
    // is inherently floating (Σ p·log₂p) and stays spec-checked in
    // MultimodalSpec rather than risking a last-ulp oracle diff.
    GraftQuery.sql("d12_multimodal_meta",
      """WITH m AS (
        |  SELECT doc_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |    text, length(text) AS n
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, ord(substr(text, CAST(p+1 AS INT), 1)) AS v
        |  FROM m, UNNEST(generate_series(0, n-1)) AS t(p)),
        |s AS (SELECT doc_id, COUNT(*) AS n_bytes, CAST(SUM(v) AS BIGINT) AS byte_sum
        |      FROM b GROUP BY 1),
        |hb AS (SELECT doc_id, v // 4 AS k, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |ph AS (SELECT hb.doc_id,
        |    CAST(SUM(CASE WHEN 64*c > s.n_bytes
        |      THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END) AS BIGINT) AS phash
        |  FROM hb JOIN s USING (doc_id) GROUP BY 1)
        |SELECT m.doc_id, m.media_type, s.n_bytes, s.byte_sum,
        |  s.byte_sum * 10000 // s.n_bytes AS mean_bp,
        |  COALESCE(ph.phash, 0) AS phash
        |FROM m JOIN s USING (doc_id) LEFT JOIN ph USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val media = graft.operators.Multimodal.mediaFromDocuments(s, docs(s, dir))
      graft.operators.Multimodal.extractFeatures(media)
        .toDF()
        .select($"doc_id", $"media_type", $"n_bytes",
          round($"mean_byte" * $"n_bytes").cast("long").as("byte_sum"), $"phash")
        .select($"doc_id", $"media_type", $"n_bytes", $"byte_sum",
          expr("byte_sum * 10000 div n_bytes").as("mean_bp"), $"phash")
        .orderBy($"doc_id")
    },

    // ---- d55: corpus heavy hitters — every token above 1/32 of total
    // corpus frequency — via the two-pass sketch-then-verify pattern
    // that survives 100 TB: pass 1 is a Misra-Gries candidate sketch
    // (operators.HeavyHitters, ≤ 31 counters per partial aggregate,
    // merged associatively — ONE scan, constant state, one ≤31-entry
    // row to the driver, same discipline as d45's argmax); pass 2
    // exactly recounts ONLY the candidate tokens (map-side partial agg
    // → ≤ 31 keys shuffle). The MG guarantee (count > N/(cap+1) ⇒
    // counter survives) makes the candidate set a superset of the
    // answer, so after the exact recount the output equals the plain
    // GROUP BY … HAVING cnt·32 > N — deterministic, hash-checked —
    // while never materializing the full token frequency table.
    GraftQuery.sql("d55_heavy_hitters",
      s"""$normCte,
         |tk AS (SELECT unnest(string_split(norm, ' ')) AS token FROM nd),
         |tok AS (SELECT token FROM tk WHERE token <> ''),
         |tot AS (SELECT COUNT(*) AS n FROM tok)
         |SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM tok, tot GROUP BY token, n HAVING COUNT(*) * 32 > n
         |ORDER BY cnt DESC, token""".stripMargin) { (s, dir) =>
      import s.implicits._
      val tok = docs(s, dir)
        .select(explode(Text.tokens($"text")).as("token"))
        .filter($"token" =!= "")
      val sketched = tok
        .agg(graft.operators.HeavyHitters.sketch($"token", 31).as("mg"),
          count(lit(1)).as("n"))
        .head()
      val n = sketched.getLong(1)
      val cands = sketched.getMap[String, Long](0).keys.toSeq
      tok.filter($"token".isInCollection(cands))
        .groupBy($"token").agg(count(lit(1)).as("cnt"))
        .filter($"cnt" * 32 > n)
        .orderBy($"cnt".desc, $"token")
    },

    // ---- d56: robust per-source length statistics — exact p05/p95
    // order statistics and the winsorized mean — via the VALUE
    // HISTOGRAM, not a per-row sort: because n_chars has a bounded
    // domain, group by (source, n_chars) first (map-side partial agg →
    // tiny summary), take exact order statistics from the cumulative
    // histogram (window over the summary only — the full data is never
    // sorted or windowed, unlike the textbook percentile-by-rank plan
    // whose per-source window would funnel 100 TB into one partition
    // per source), then broadcast the per-source thresholds back and
    // clamp + aggregate map-side. cum·20 ≥ n picks the ceil(n/20)-th
    // value exactly (integer cross-multiplication, s13's trick).
    GraftQuery.sql("d56_winsorized_stats",
      """WITH h AS (SELECT source, n_chars, COUNT(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cum AS (SELECT source, n_chars, c,
        |    SUM(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
        |    SUM(c) OVER (PARTITION BY source) AS n FROM h),
        |th AS (SELECT source,
        |    MIN(CASE WHEN cum * 20 >= n THEN n_chars END) AS p05,
        |    MIN(CASE WHEN cum * 20 >= n * 19 THEN n_chars END) AS p95
        |  FROM cum GROUP BY 1)
        |SELECT d.source, COUNT(*) AS n_docs,
        |  CAST(MAX(th.p05) AS BIGINT) AS p05,
        |  CAST(MAX(th.p95) AS BIGINT) AS p95,
        |  CAST(SUM(CAST(LEAST(GREATEST(d.n_chars, th.p05), th.p95)
        |    AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS win_mean
        |FROM documents d JOIN th USING (source)
        |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir).select($"source", $"n_chars")
      val wOrd = Window.partitionBy($"source").orderBy($"n_chars")
      val wAll = Window.partitionBy($"source")
      val th = d.groupBy($"source", $"n_chars").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum($"c").over(wOrd))
        .withColumn("n", sum($"c").over(wAll))
        .groupBy($"source")
        .agg(min(when($"cum" * 20 >= $"n", $"n_chars")).as("p05"),
          min(when($"cum" * 20 >= $"n" * 19, $"n_chars")).as("p95"))
      d.join(broadcast(th), Seq("source"))
        .select($"source",
          least(greatest($"n_chars", $"p05"), $"p95").as("clamped"),
          $"p05", $"p95")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          max($"p05").cast("long").as("p05"),
          max($"p95").cast("long").as("p95"),
          Agg.davg($"clamped").as("win_mean"))
        .orderBy($"source")
    },

    // ---- d57: equi-depth shard planning — the range-partitioner's
    // planning pass as a first-class operator: 8 balanced-by-count
    // bins over per-doc token length, boundaries = the ceil(j·n/8)-th
    // order statistics taken from the (n_tok) VALUE HISTOGRAM (d56's
    // trick: the corpus is never sorted; the cumulative window runs
    // over distinct lengths only), docs assigned by counting
    // boundaries strictly below their length, per-bin doc/token mass
    // + bounds reported. Ties collapse into one bin by construction —
    // the report SHOWING that imbalance is the point (a planner reads
    // skew here before choosing d54 hash routing vs d30 packing).
    GraftQuery.sql("d57_equidepth_shards",
      s"""$normCte,
         |t AS (SELECT doc_id, len(string_split(norm, ' ')) AS n_tok FROM nd),
         |h AS (SELECT n_tok, COUNT(*) AS c FROM t GROUP BY 1),
         |cum AS (SELECT n_tok, c,
         |    SUM(c) OVER (ORDER BY n_tok) AS cum,
         |    SUM(c) OVER () AS n FROM h),
         |b AS (SELECT j, MIN(CASE WHEN cum * 8 >= n * j THEN n_tok END) AS cut
         |  FROM cum CROSS JOIN (VALUES (1),(2),(3),(4),(5),(6),(7)) AS js(j)
         |  GROUP BY j),
         |assigned AS (SELECT t.doc_id, t.n_tok,
         |    (SELECT COUNT(*) FROM b WHERE b.cut < t.n_tok) AS bin FROM t)
         |SELECT bin, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(MIN(n_tok) AS BIGINT) AS lo, CAST(MAX(n_tok) AS BIGINT) AS hi
         |FROM assigned GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      import s.implicits._
      val t = docs(s, dir).select($"doc_id", size(Text.tokens($"text")).cast("long").as("n_tok"))
      val cum = t.groupBy($"n_tok").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum($"c").over(Window.orderBy($"n_tok")))
        .withColumn("n", sum($"c").over(Window.partitionBy(lit(1))))
      // 7 interior cuts from the tiny histogram, collected as literals
      val cuts = (1 to 7).map(j =>
        min(when($"cum" * 8 >= $"n" * j, $"n_tok")).as(s"c$j"))
      val cutRow = cum.agg(cuts.head, cuts.tail: _*).head()
      // null cuts (empty histogram → degenerate corpus) collapse every
      // boundary to 0: all docs land in bin 0, as the oracle's empty
      // aggregate does, instead of NPEing in the driver
      val cutVals = (0 until 7).map(i =>
        if (cutRow.isNullAt(i)) 0L else cutRow.getLong(i))
      val bin = cutVals.foldLeft(lit(0L)) { (acc, cv) =>
        acc + ($"n_tok" > cv).cast("long")
      }
      t.select($"doc_id", $"n_tok", bin.as("bin"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
          min($"n_tok").as("lo"), max($"n_tok").as("hi"))
        .orderBy($"bin")
    },

    // ---- d58: per-source distributional divergence — total-variation
    // distance between each source's token distribution and the whole
    // corpus, EXACT (the data-mixing diagnostic a curator reads before
    // d26/d31/d33 reweighting): with per-source totals n_s, corpus
    // total n_c, 2·TV·n_s·n_c = Σ_{t∈s}|c_st·n_c − c_t·n_s| +
    // n_s·(n_c − Σ_{t∈s}c_t) — the second term folds every
    // source-ABSENT token in closed form, so there is NO source×vocab
    // grid and the plan survives open vocabularies: one (source,
    // token) partial-agg exchange, corpus counts aggregated from that
    // same summary and joined back token-keyed, per-source rollup
    // tiny. Long algebra stays under 2^63 through sf1 ~10^17; at
    // petabyte counts promote to DECIMAL(38,0) — same expressions.
    GraftQuery.sql("d58_source_divergence",
      s"""$normCte,
         |tk AS (SELECT source, unnest(string_split(norm, ' ')) AS token FROM nd),
         |tok AS (SELECT source, token FROM tk WHERE token <> ''),
         |st AS (SELECT source, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         |ns AS (SELECT source, SUM(c) AS nsn FROM st GROUP BY 1),
         |ct AS (SELECT token, SUM(c) AS cc FROM st GROUP BY 1),
         |nc AS (SELECT SUM(cc) AS ncn FROM ct),
         |agg AS (SELECT st.source,
         |    SUM(abs(st.c * nc.ncn - ct.cc * ns.nsn)) AS present,
         |    SUM(ct.cc) AS cc_present,
         |    MAX(ns.nsn) AS nsn, MAX(nc.ncn) AS ncn
         |  FROM st JOIN ct USING (token) JOIN ns USING (source) CROSS JOIN nc
         |  GROUP BY st.source)
         |SELECT source, CAST(nsn AS BIGINT) AS n_tokens,
         |  CAST((present + nsn * (ncn - cc_present)) * 10000
         |    // (2 * nsn * ncn) AS BIGINT) AS tv_bp
         |FROM agg ORDER BY source""".stripMargin) { (s, dir) =>
      import s.implicits._
      // st feeds FOUR plan branches (ns, ct, nc-via-ct, and the final
      // join) — persisted so the tokenize+explode+(source,token)
      // aggregate runs once, not once per branch (the d65/d66 db/dt
      // discipline); Bench clears caches per entry, Verify periodically
      val st = docs(s, dir)
        .select($"source", explode(Text.tokens($"text")).as("token"))
        .filter($"token" =!= "")
        .groupBy($"source", $"token").agg(count(lit(1)).as("c"))
        .persist()
      val ns = st.groupBy($"source").agg(sum($"c").as("nsn"))
      val ct = st.groupBy($"token").agg(sum($"c").as("cc"))
      val nc = ct.agg(sum($"cc").as("ncn"))
      st.join(ct, "token").join(broadcast(ns), "source").crossJoin(broadcast(nc))
        .groupBy($"source")
        .agg(sum(abs($"c" * $"ncn" - $"cc" * $"nsn")).as("present"),
          sum($"cc").as("cc_present"), max($"nsn").as("nsn"), max($"ncn").as("ncn"))
        .select($"source", $"nsn".as("n_tokens"),
          expr("(present + nsn * (ncn - cc_present)) * 10000 div (2 * nsn * ncn)")
            .cast("long").as("tv_bp"))
        .orderBy($"source")
    },

    // ---- d59: video frame sampling (the remaining multimodal batch
    // shape next to d12's decode/feature-extract): each video-typed
    // payload is treated as n fixed-size frames and k=4 frames are
    // sampled at the deterministic uniform stride floor(i·n/k) — the
    // mapInPandas-shaped batched per-partition operator with the codec
    // stubbed (operators.Multimodal.sampleFrames; this container ships
    // none), emitting only fixed-width per-frame feature rows. Scale
    // shape: payload bytes never shuffle, fanout is exactly ≤ k rows
    // per record map-side, skew bounded by k rather than video length.
    // The stub codec's byte algebra is integer-exact over ASCII
    // payloads, so (like d60) it IS SQL-expressible: the oracle
    // rebuilds each sampled frame's slice from ord() over the text
    // bytes and folds the same base-131 rolling checksum in HUGEINT
    // arithmetic mod 2^64 — bit-identical to Scala's wrapping Long.
    // MultimodalSpec still re-derives every frame driver-side.
    GraftQuery.sql("d59_frame_sample",
      """WITH vid AS (
        |  SELECT doc_id, text, length(text) AS len,
        |         (doc_id % 64)*16+64 AS w, (doc_id % 48)*16+64 AS h
        |  FROM documents WHERE doc_id % 3 = 2),
        |par AS (SELECT doc_id, text, len,
        |    GREATEST(1, (w*h) // 64) AS fs FROM vid),
        |par2 AS (SELECT *, GREATEST(1, len // fs) AS n FROM par),
        |fr AS (SELECT doc_id, text, len, fs, n, (i * n) // 4 AS idx
        |  FROM par2, UNNEST(generate_series(0, 3)) AS t(i)),
        |frd AS (SELECT DISTINCT doc_id, text, fs, n, idx,
        |    LEAST(CAST(idx * fs AS BIGINT), len) AS lo,
        |    LEAST(CAST((idx + 1) * fs AS BIGINT), len) AS hi
        |  FROM fr),
        |cs AS (SELECT doc_id, idx, n, hi - lo AS frame_bytes,
        |    list_reduce(
        |      list_prepend(CAST(0 AS HUGEINT),
        |        list_transform(range(CAST(lo AS BIGINT), CAST(hi AS BIGINT)),
        |          p -> CAST(ord(substr(text, CAST(p+1 AS INT), 1)) AS HUGEINT))),
        |      (acc, x) -> (acc * 131 + x) %
        |        CAST('18446744073709551616' AS HUGEINT)) AS cs_u
        |  FROM frd)
        |SELECT doc_id, CAST(idx AS BIGINT) AS frame_idx,
        |  CAST(n AS BIGINT) AS n_frames,
        |  CAST(frame_bytes AS BIGINT) AS frame_bytes,
        |  CAST(CASE WHEN cs_u >= CAST('9223372036854775808' AS HUGEINT)
        |       THEN cs_u - CAST('18446744073709551616' AS HUGEINT)
        |       ELSE cs_u END AS BIGINT) AS frame_checksum
        |FROM cs ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      import s.implicits._
      val media = graft.operators.Multimodal.mediaFromDocuments(s, docs(s, dir))
      graft.operators.Multimodal.sampleFrames(media, k = 4)
        .toDF()
        .orderBy($"doc_id", $"frame_idx")
    },

    // ---- d60: image resize onto a fixed 8×8 grid (the third
    // multimodal batch shape: d12 decode/features, d59 frame-sample,
    // HERE area-interpolation resize): payload as height×width pixels,
    // average-pooled with integer-exact floor(i·h/side) cell
    // boundaries (operators.Multimodal.resizeToGrid, codec stubbed).
    // Whatever the source resolution, 64 longs per image leave the
    // operator — nothing downstream scales with pixel count, pooling
    // is map-side batched, payload bytes never shuffle. The pooling is
    // integer-exact and the test corpus is pure ASCII, so the stub
    // codec's byte algebra IS SQL-expressible: the oracle rebuilds the
    // pixel plane from ord() over the text bytes and re-pools with the
    // same floor boundaries. Grid emitted LONG-FORM (doc_id, cell,
    // value) — one scalar row per cell — so every column is sortable
    // and hashable by the driver (r6's array column was not).
    GraftQuery.sql("d60_thumbnail_grid",
      """WITH img AS (
        |  SELECT doc_id, text,
        |         (doc_id % 64)*16+64 AS w, (doc_id % 48)*16+64 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (
        |  SELECT doc_id, ord(substr(text, CAST(p+1 AS INT), 1)) AS v,
        |         p // w AS prow, p % w AS pcol
        |  FROM img, UNNEST(generate_series(0, length(text)-1)) AS t(p)),
        |ri AS (SELECT doc_id, i, i*h//8 AS r0, (i+1)*h//8 AS r1
        |       FROM img, UNNEST(generate_series(0,7)) AS gi(i)),
        |ci AS (SELECT doc_id, j, j*w//8 AS c0, (j+1)*w//8 AS c1
        |       FROM img, UNNEST(generate_series(0,7)) AS gj(j)),
        |cellsum AS (
        |  SELECT px.doc_id, ri.i, ci.j, SUM(px.v) AS s
        |  FROM px
        |  JOIN ri ON px.doc_id=ri.doc_id AND px.prow>=ri.r0 AND px.prow<ri.r1
        |  JOIN ci ON px.doc_id=ci.doc_id AND px.pcol>=ci.c0 AND px.pcol<ci.c1
        |  GROUP BY 1,2,3)
        |SELECT img.doc_id, CAST(img.w AS BIGINT) AS width,
        |  CAST(img.h AS BIGINT) AS height,
        |  CAST(ri.i*8+ci.j AS BIGINT) AS cell,
        |  CAST(COALESCE(cs.s, 0) // ((ri.r1-ri.r0)*(ci.c1-ci.c0)) AS BIGINT)
        |    AS value
        |FROM img JOIN ri USING(doc_id) JOIN ci USING(doc_id)
        |LEFT JOIN cellsum cs
        |  ON cs.doc_id=img.doc_id AND cs.i=ri.i AND cs.j=ci.j
        |ORDER BY doc_id, cell""".stripMargin) { (s, dir) =>
      import s.implicits._
      val media = graft.operators.Multimodal.mediaFromDocuments(s, docs(s, dir))
      graft.operators.Multimodal.resizeToGrid(media, side = 8)
        .toDF()
        .select($"doc_id", $"width".cast("long").as("width"),
          $"height".cast("long").as("height"),
          posexplode($"grid").as(Seq("cell", "value")))
        .select($"doc_id", $"width", $"height",
          $"cell".cast("long").as("cell"), $"value")
        .orderBy($"doc_id", $"cell")
    },

    // ---- d61: data selection under a token budget (the "keep the
    // best 40% of tokens" pass a DataComp-style curation run ends
    // with), EXACT and sort-free: per-doc quality in integer basis
    // points (length + punctuation + stopword components, all integer
    // division), then the admission cutoff comes from the QUALITY-BIN
    // HISTOGRAM — bins strictly above the cutoff admit wholesale
    // (map-side flag against the broadcast histogram), and ONLY the
    // single straddling bin is prefix-windowed (doc_id order, s19's
    // truncation semantics) to fill the remainder deterministically.
    // The textbook plan — global quality sort + running token sum —
    // is one total order over the corpus; this one windows just the
    // cutoff bin, bounded by a bin's mass, not the corpus.
    GraftQuery.sql("d61_quality_budget",
      s"""$qualityCte,
         |tot AS (SELECT SUM(n_tok) * 2 // 5 AS b FROM q),
         |bins AS (SELECT q_bp, SUM(n_tok) AS btok FROM q GROUP BY 1),
         |cb AS (SELECT q_bp, btok, COALESCE(SUM(btok) OVER (ORDER BY q_bp DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above FROM bins),
         |d AS (SELECT q.doc_id, q.source, q.n_tok, cb.above,
         |    SUM(q.n_tok) OVER (PARTITION BY q.q_bp ORDER BY q.doc_id) AS runq
         |  FROM q JOIN cb USING (q_bp)),
         |sel AS (SELECT * FROM d, tot WHERE above + runq <= b)
         |SELECT source, COUNT(*) AS n_sel,
         |  CAST(SUM(n_tok) AS BIGINT) AS tok_sel,
         |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
         |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      // persisted: the budget scalar, the histogram, and BOTH union
      // branches (full bins + the straddling bin's prefix window) read
      // the scored corpus — unpersisted, the tokenize/score projection
      // ran four times per invocation (jaccardEdges/phashPairs'
      // mid-plan cache pattern; the harness clears session caches
      // between entries)
      val q = qualityScores(s, dir).persist()
      // null-safe on a degenerate corpus (every doc filtered out →
      // sum is NULL): budget 0 admits nothing, matching the oracle's
      // empty result instead of NPEing in the driver
      val budgetRow = q.agg(expr("sum(n_tok) * 2 div 5")).head()
      val budget = if (budgetRow.isNullAt(0)) 0L else budgetRow.getLong(0)
      val bins = q.groupBy($"q_bp").agg(sum($"n_tok").as("btok"))
      // cumulative mass of strictly-better bins: window over the TINY
      // histogram only (distinct q_bp values), then broadcast back
      val wAbove = Window.orderBy($"q_bp".desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val cb = bins.withColumn("above",
        coalesce(sum($"btok").over(wAbove), lit(0L)))
      val joined = q.join(broadcast(cb), "q_bp")
      val full = joined.filter($"above" + $"btok" <= budget)
      // only the single straddling bin pays a prefix window
      val cut = joined
        .filter($"above" <= budget && $"above" + $"btok" > budget)
        .withColumn("runq", sum($"n_tok")
          .over(Window.partitionBy($"q_bp").orderBy($"doc_id")))
        .filter($"above" + $"runq" <= budget)
      val cols = Seq($"doc_id", $"source", $"n_tok")
      full.select(cols: _*).union(cut.select(cols: _*))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_sel"), sum($"n_tok").as("tok_sel"),
          sum($"doc_id").as("id_sum"))
        .orderBy($"source")
    },

    // ---- d62: decontamination via a BLOOM FILTER over the eval set's
    // 8-gram hashes — the membership-probe form that replaces d20's
    // broadcast JOIN at 100 TB: the filter is bits (here 1% target FP
    // over the eval grams — KBs where the gram table is GBs), rides to
    // every task as a literal byte array probed by the codegen-friendly
    // mightContain, and the corpus side never joins anything — a pure
    // map-side scan that cannot skew. The Bloom guarantee (NO false
    // negatives) makes the flag a strict superset of d20's exact
    // contamination set; Wave8Spec asserts superset + bounded false
    // positives against d20 run on the same corpus. The bit pattern is
    // deterministic given the corpus, so the oracle rebuilds the
    // filter's exact bits and probe sequence in DuckDB
    // (DecontaminationFilter.oracleSql — shared verbatim with s23,
    // extending the two gates' bit-parity contract to the checker).
    GraftQuery.sql("d62_bloom_decontaminate",
      DecontaminationFilter.oracleSql) { (s, dir) =>
      import s.implicits._
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val sh8 = docs(s, dir).repartition(p)
        .select($"doc_id", Text.shingleHashes($"text", 8).as("sh"))
      // build once over the (tiny) eval side; ships as a task literal.
      // probe via the codegen expression — the filter's serialized bytes
      // ride the plan as one literal, and the per-gram test fuses into
      // the whole-stage-codegen scan loop (no boxed-UDF row boundary)
      val bfBytes = DecontaminationFilter.bytes(docs(s, dir))
      val hit = call_function("bloom_contains_long", $"g", lit(bfBytes))
      sh8.filter($"doc_id" >= 25)
        .select($"doc_id", explode($"sh").as("g"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(hit.cast("long")).as("n_hits"))
        .filter($"n_hits" > 0)
        .select($"doc_id", $"n_grams", $"n_hits")
        .orderBy($"doc_id")
    },

    // ---- d63: LEAKAGE-FREE train/val split — the eval-hygiene twin of
    // decontamination: a random doc-level split leaks when two near-
    // duplicates land on opposite sides (the val doc is then "seen" in
    // training). Split by CLUSTER instead: d13's near-dup components
    // (unchanged star-contraction machinery) each land wholesale on one
    // side via the deterministic salted-hash threshold ('14' = 20/256 ≈
    // 7.8% val), so no edge can straddle by construction — DedupSpec
    // asserts it over every similarity edge. Scale shape: cluster
    // assignment is d13's O(log² n) contraction; the split itself is a
    // map-side hash of the label; only the (split, lang) rollup
    // shuffles.
    GraftQuery.sql("d63_leakfree_split",
      s"""$simCte,
         |$ccCte,
         |sp AS (SELECT l.doc_id, nd.lang, l.cluster_id,
         |    CASE WHEN substr(md5('d63|' || CAST(l.cluster_id AS VARCHAR)), 1, 2)
         |           < '14' THEN 'val' ELSE 'train' END AS split
         |  FROM lab l JOIN nd ON nd.doc_id = l.doc_id)
         |SELECT split, lang, COUNT(*) AS n_docs,
         |  CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
         |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      val lab = graft.operators.DedupClusters.assign(
        docs(s, dir).select($"doc_id"),
        jaccardEdges(s, dir).select($"a_id", $"b_id"))
      lab.join(docs(s, dir).select($"doc_id", $"lang"), "doc_id")
        .withColumn("split",
          when(substring(md5(concat(lit("d63|"), $"cluster_id".cast("string"))
            .cast("binary")), 1, 2) < "14", "val").otherwise("train"))
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct($"cluster_id").as("n_clusters"),
          sum($"doc_id").as("id_sum"))
        .orderBy($"split", $"lang")
    },

    // ---- d64: duplication-aware loss weighting — the alternative to
    // dropping near-duplicates: keep ONE representative per cluster
    // (d13's min-id label) and weight it by its cluster size, so the
    // training distribution preserves each document's natural mass
    // without re-reading duplicate bytes. Output proves the invariant
    // that makes the trick sound: summed over languages, the kept
    // docs' weight total equals the original corpus size (nothing
    // gained, nothing lost — per-language totals can shift because a
    // near-dup cluster may span languages and its whole mass follows
    // the representative). Scale shape: one count per label, the
    // weight join rides the same label partitioning, token counting is
    // a map-side projection on the representatives only.
    GraftQuery.sql("d64_dup_weighting",
      s"""$simCte,
         |$ccCte,
         |sz AS (SELECT cluster_id, COUNT(*) AS w FROM lab GROUP BY 1),
         |rep AS (SELECT l.cluster_id, nd.lang, sz.w,
         |    len(string_split(nd.norm, ' ')) AS n_tok
         |  FROM lab l JOIN sz USING (cluster_id) JOIN nd ON nd.doc_id = l.doc_id
         |  WHERE l.doc_id = l.cluster_id)
         |SELECT lang, COUNT(*) AS n_kept,
         |  CAST(SUM(w) AS BIGINT) AS w_sum,
         |  CAST(SUM(w * n_tok) AS BIGINT) AS wtok_sum
         |FROM rep GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      val lab = graft.operators.DedupClusters.assign(
        docs(s, dir).select($"doc_id"),
        jaccardEdges(s, dir).select($"a_id", $"b_id"))
      val sizes = lab.groupBy($"cluster_id").agg(count(lit(1)).as("w"))
      val d = docs(s, dir).select($"doc_id", $"lang",
        size(split(Text.normalize($"text"), " ")).cast("long").as("n_tok"))
      lab.filter($"doc_id" === $"cluster_id")
        .join(sizes, "cluster_id")
        .join(d, "doc_id")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"), sum($"w").as("w_sum"),
          sum($"w" * $"n_tok").as("wtok_sum"))
        .orderBy($"lang")
    },

    // ---- d65: DSIR-style importance weights (Xie et al. 2023,
    // "Data Selection for LMs via Importance Resampling"): score each
    // raw document by how target-like its hashed-unigram bag is —
    // r(b) = p_target(b)/p_raw(b) over 4096 md5-prefix buckets with
    // add-1 smoothing, doc score = mean bucket ratio (token-weighted),
    // all in EXACT integer ppm (DECIMAL(38,0)/HUGEINT cross products,
    // floor division both engines). The target is the curated slice
    // (doc_id < 50 — the d20/d62 eval-slice idiom). Scale shape: one
    // corpus scan builds the (doc, bucket, k) partial aggregate (raw
    // AND target counts come from the same pass via a conditional
    // sum); the 4096-row ratio table broadcasts back; the per-doc
    // rollup rides one doc_id exchange. kept=1 ⟺ mean ratio ≥ 1
    // (more target-like than the raw pool — the self-normalizing cut).
    GraftQuery.sql("d65_dsir_weights",
      s"""$normCte,
         |tk AS (SELECT doc_id, substr(md5(tok), 1, 3) AS b
         |  FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM nd)
         |  WHERE length(tok) > 0),
         |db AS (SELECT doc_id, b, COUNT(*) AS k FROM tk GROUP BY 1, 2),
         |bc AS (SELECT b, SUM(k) AS cr,
         |    SUM(CASE WHEN doc_id < 50 THEN k ELSE 0 END) AS ct
         |  FROM db GROUP BY b),
         |tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM bc),
         |ratio AS (SELECT b,
         |    CAST((CAST(ct + 1 AS HUGEINT) * (tr + 4096) * 1000000)
         |      // (CAST(cr + 1 AS HUGEINT) * (tt + 4096)) AS BIGINT) AS r_ppm
         |  FROM bc CROSS JOIN tot),
         |ds AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tok,
         |    CAST(SUM(k * r_ppm) AS BIGINT) AS score_sum
         |  FROM db JOIN ratio USING (b) GROUP BY doc_id)
         |SELECT doc_id, n_tok, score_sum, score_sum // n_tok AS avg_ppm,
         |  CAST(CASE WHEN score_sum // n_tok >= 1000000 THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM ds ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val tk = docs(s, dir)
        .select($"doc_id", explode(Text.tokens($"text")).as("tok"))
        .filter(length($"tok") > 0)
        .select($"doc_id", substring(md5($"tok".cast("binary")), 1, 3).as("b"))
      val db = tk.groupBy($"doc_id", $"b").agg(count(lit(1)).as("k")).persist()
      val bc = db.groupBy($"b").agg(sum($"k").as("cr"),
        sum(when($"doc_id" < 50, $"k").otherwise(0L)).as("ct"))
      val tot = bc.agg(sum($"cr").as("tr"), sum($"ct").as("tt"))
      val ratio = bc.crossJoin(broadcast(tot)).select($"b",
        expr("""CAST((CAST(ct + 1 AS DECIMAL(38,0)) * (tr + 4096) * 1000000)
               | div (CAST(cr + 1 AS DECIMAL(38,0)) * (tt + 4096)) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("r_ppm"))
      // db persists across its two consumers (bc and the rollup);
      // Bench clears caches per entry; Verify's concurrent loop clears periodically
      db.join(broadcast(ratio), "b")
        .groupBy($"doc_id")
        .agg(sum($"k").as("n_tok"), sum($"k" * $"r_ppm").as("score_sum"))
        .select($"doc_id", $"n_tok", $"score_sum",
          expr("score_sum div n_tok").as("avg_ppm"),
          expr("CAST(CASE WHEN score_sum div n_tok >= 1000000 THEN 1 ELSE 0 END AS BIGINT)")
            .as("kept"))
        .orderBy($"doc_id")
    },

    // ---- d66: CCNet-style rarity buckets — score each doc by mean
    // token rarity (inverse relative corpus frequency in exact ppm —
    // the division-free stand-in for LM perplexity, same ordering
    // intent: common text scores low) and split each language into
    // head/middle/tail TERCILES, CCNet's curation unit. Exactness:
    // rarity = (corpus_tokens·10⁶) div count(token); doc score =
    // token-weighted mean, floor-divided; the tercile cuts come from
    // the per-lang SCORE-BIN histogram with cross-multiplied
    // cumulative fractions (3·cum ≥ tot), the e15/d57 idiom — no
    // per-lang sort of the corpus, the window runs over the tiny
    // (lang, bin) table. Scale shape: ONE tokenization feeds both the
    // vocabulary count (derived from the (doc, token) partial
    // aggregate — d39's df-rides-tf trick) and the score rollup; the
    // cuts broadcast back map-side.
    GraftQuery.sql("d66_ccnet_buckets",
      s"""$normCte,
         |dt AS (SELECT doc_id, lang, tok, COUNT(*) AS k
         |  FROM (SELECT doc_id, lang, unnest(string_split(norm, ' ')) AS tok FROM nd)
         |  WHERE length(tok) > 0 GROUP BY 1, 2, 3),
         |tc AS (SELECT tok, SUM(k) AS c FROM dt GROUP BY tok),
         |tot AS (SELECT SUM(c) AS tt FROM tc),
         |rar AS (SELECT tok, (tt * 1000000) // c AS rar_ppm FROM tc CROSS JOIN tot),
         |ds AS (SELECT doc_id, lang,
         |    CAST(SUM(k * rar_ppm) // SUM(k) AS BIGINT) AS score
         |  FROM dt JOIN rar USING (tok) GROUP BY 1, 2),
         |h AS (SELECT lang, score // 1000 AS sbin, COUNT(*) AS n FROM ds GROUP BY 1, 2),
         |cum AS (SELECT lang, sbin,
         |    SUM(n) OVER (PARTITION BY lang ORDER BY sbin) AS cumn,
         |    SUM(n) OVER (PARTITION BY lang) AS totn
         |  FROM h),
         |cuts AS (SELECT lang,
         |    MIN(CASE WHEN 3 * cumn >= totn THEN sbin END) AS cut1,
         |    MIN(CASE WHEN 3 * cumn >= 2 * totn THEN sbin END) AS cut2
         |  FROM cum GROUP BY lang)
         |SELECT doc_id, d.lang AS lang, score,
         |  CASE WHEN score // 1000 <= cut1 THEN 'head'
         |       WHEN score // 1000 <= cut2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM ds d JOIN cuts USING (lang) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val dt = docs(s, dir)
        .select($"doc_id", $"lang", explode(Text.tokens($"text")).as("tok"))
        .filter(length($"tok") > 0)
        .groupBy($"doc_id", $"lang", $"tok").agg(count(lit(1)).as("k"))
        .persist()
      val tc = dt.groupBy($"tok").agg(sum($"k").as("c"))
      val tot = tc.agg(sum($"c").as("tt"))
      // DECIMAL(38,0) through the products (d65's discipline): LongType
      // would wrap silently past ~9.2e12 corpus tokens while the
      // DuckDB side (HUGEINT sums) stayed exact — the engines must
      // diverge nowhere. The final BIGINT score cast bounds the OUTPUT
      // domain instead (mean rarity < 9.2e18 ppm — beyond any corpus
      // whose hapaxes aren't the whole vocabulary).
      val rar = tc.crossJoin(broadcast(tot))
        .select($"tok",
          expr("(CAST(tt AS DECIMAL(38,0)) * 1000000) div c").as("rar_ppm"))
      // ds feeds BOTH the histogram→cuts path and the output join —
      // persisted so the score derivation (rarity join + doc rollup,
      // the corpus-sized work) runs once, not once per consumer
      val ds = dt.join(rar, "tok")
        .groupBy($"doc_id", $"lang")
        .agg(expr("CAST(sum(k * CAST(rar_ppm AS DECIMAL(38,0))) div sum(k) AS BIGINT)")
          .as("score"))
        .persist()
      val h = ds.groupBy($"lang", expr("score div 1000").as("sbin"))
        .agg(count(lit(1)).as("n"))
      val wCum = Window.partitionBy($"lang").orderBy($"sbin")
      val wTot = Window.partitionBy($"lang")
      val cuts = h
        .withColumn("cumn", sum($"n").over(wCum))
        .withColumn("totn", sum($"n").over(wTot))
        .groupBy($"lang").agg(
          min(when($"cumn" * 3 >= $"totn", $"sbin")).as("cut1"),
          min(when($"cumn" * 3 >= $"totn" * 2, $"sbin")).as("cut2"))
      // dt persists across its two consumers (tc and the score join)
      ds.join(broadcast(cuts), "lang")
        .select($"doc_id", $"lang", $"score",
          when(expr("score div 1000") <= $"cut1", "head")
            .when(expr("score div 1000") <= $"cut2", "middle")
            .otherwise("tail").as("bucket"))
        .orderBy($"doc_id")
    },

    // ---- d67: T5-style span corruption — deterministic masking for
    // denoising-objective training data: token i of doc d masks iff
    // md5(d || ':' || i) prefix < 0x28 (≈15.6%, T5's rate), contiguous
    // masked runs collapse to one sentinel. The whole operator is
    // STACKED ARRAY PROJECTIONS over the scan — mask vector, span
    // starts, and the corrupted-text fingerprint are per-row lambda
    // folds, so there is NO exchange at any scale (the d46/d54
    // map-side discipline); output is fixed-width stats + a 128-bit
    // fingerprint, never the corrupted text itself.
    GraftQuery.sql("d67_span_corruption",
      s"""$normCte,
         |d AS (SELECT doc_id, list_filter(string_split(norm, ' '), t -> t <> '') AS toks
         |  FROM nd),
         |m AS (SELECT doc_id, toks, list_transform(range(len(toks)),
         |    i -> substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 2) < '28') AS msk
         |  FROM d)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tok,
         |  CAST(len(list_filter(msk, b -> b)) AS BIGINT) AS n_masked,
         |  CAST(len(list_filter(range(len(toks)),
         |    i -> msk[i+1] AND (i = 0 OR NOT msk[i]))) AS BIGINT) AS n_spans,
         |  md5(array_to_string(list_filter(list_transform(range(len(toks)),
         |    i -> CASE WHEN NOT msk[i+1] THEN toks[i+1]
         |              WHEN i = 0 OR NOT msk[i] THEN '<X>' END),
         |    t -> t IS NOT NULL), ' ')) AS corrupt_fp
         |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      def maskAt(docId: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
        substring(md5(concat(docId.cast("string"), lit(":"), i.cast("string"))
          .cast("binary")), 1, 2) < "28"
      val base = docs(s, dir).select($"doc_id",
        filter(Text.tokens($"text"), t => t =!= "").as("toks"))
      val m = base.withColumn("msk",
        transform($"toks", (_, i) => maskAt($"doc_id", i)))
      m.select($"doc_id",
          size($"toks").cast("long").as("n_tok"),
          size(filter($"msk", b => b)).cast("long").as("n_masked"),
          size(filter(transform($"msk", (b, i) =>
            b && (i === 0 || !element_at($"msk", i))), x => x))
            .cast("long").as("n_spans"),
          md5(concat_ws(" ", filter(transform($"toks", (t, i) =>
            when(!element_at($"msk", i + 1), t)
              .when(i === 0 || !element_at($"msk", i), "<X>")),
            t => t.isNotNull)).cast("binary")).as("corrupt_fp"))
        .orderBy($"doc_id")
    },

    // ---- d68: cluster-balanced sampling — the "semantic diversity"
    // subset selection a DataComp-style run does after clustering:
    // equal quota per k-means cluster (8 picks per cluster here),
    // picked by a DETERMINISTIC salted-hash order (d35's idiom) so the
    // sample is reproducible under any partitioning. Scale shape:
    // assignment is d46's exchange-free centroid-literal projection;
    // the per-cluster top-m is a rank-limit window over the CLUSTER
    // partitioning (WindowGroupLimit truncates map-side), never a
    // global sort; vectors themselves never shuffle — only
    // (vec_id, cluster_id) pairs.
    GraftQuery.sql("d68_cluster_sample", {
      val (k, iters) = (8, 3)
      val fin = s"a${iters + 1}" // kmeansCtes' final assignment CTE
      kmeansCtes(k.toString, iters) + s"""
        |, asg AS (SELECT vec_id, k AS cluster_id FROM $fin WHERE rn = 1),
        |r AS (SELECT vec_id, cluster_id, ROW_NUMBER() OVER (PARTITION BY cluster_id
        |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS pick_rank
        |  FROM asg)
        |SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
        |  CAST(pick_rank AS BIGINT) AS pick_rank
        |FROM r WHERE pick_rank <= 8 ORDER BY cluster_id, pick_rank""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      // fitCached (see d46): shares the session's Lloyd rounds; only
      // the map-side assignment pass re-executes here.
      val asg = graft.operators.KMeans.fitCached(s, embs(s, dir), k = 8,
        iters = 3, dir = dir)
      val w = Window.partitionBy($"cluster_id")
        .orderBy(md5($"vec_id".cast("string").cast("binary")), $"vec_id")
      asg.select($"vec_id", $"cluster_id")
        .withColumn("pick_rank", row_number().over(w).cast("long"))
        .filter($"pick_rank" <= 8)
        .orderBy($"cluster_id", $"pick_rank")
    },

    // ---- d75: dedup threshold yield curve — the tuning table a
    // curation run consults before committing to a near-dup cutoff:
    // for each candidate Jaccard threshold, how many pairs and how
    // many distinct documents would be implicated. ONE exact
    // prefix-filtered similarity join at the loosest threshold (the
    // d18 engine, persisted) feeds every curve point — the thresholds
    // are a 5-row explode over the edge list, never a re-join; both
    // aggregates ride the tiny edge table. Threshold compares are
    // t_bps/10000.0 — the identical double on both engines.
    GraftQuery.sql("d75_dedup_curve",
      s"""$simCte,
         |th AS (SELECT unnest([5000, 6000, 7000, 8000, 9000]) AS t_bps),
         |sel AS (SELECT t_bps, a_id, b_id FROM pr, th
         |  WHERE jaccard >= t_bps / 10000.0),
         |ne AS (SELECT t_bps, COUNT(*) AS n_edges FROM sel GROUP BY 1),
         |ndc AS (SELECT t_bps, COUNT(DISTINCT d) AS n_docs FROM (
         |  SELECT t_bps, a_id AS d FROM sel
         |  UNION ALL SELECT t_bps, b_id FROM sel) z GROUP BY 1)
         |SELECT CAST(th.t_bps AS BIGINT) AS t_bps,
         |  COALESCE(n_edges, 0) AS n_edges, COALESCE(n_docs, 0) AS n_docs
         |FROM th LEFT JOIN ne ON th.t_bps = ne.t_bps
         |  LEFT JOIN ndc ON th.t_bps = ndc.t_bps
         |ORDER BY t_bps""".stripMargin) { (s, dir) =>
      import s.implicits._
      val edges = jaccardEdges(s, dir) // exact pairs at >= 0.5, memoized
      val thresholds = Seq(5000L, 6000L, 7000L, 8000L, 9000L)
      val bps = array(thresholds.map(lit): _*)
      val sel = edges
        .select($"a_id", $"b_id", $"jaccard", explode(bps).as("t_bps"))
        .filter($"jaccard" >= $"t_bps" / 10000.0)
      val ne = sel.groupBy($"t_bps").agg(count(lit(1)).as("n_edges"))
      val ndc = sel.select($"t_bps", explode(array($"a_id", $"b_id")).as("d"))
        .groupBy($"t_bps").agg(countDistinct($"d").as("n_docs"))
      // every curve point is emitted, zero-yield thresholds included —
      // "no pairs at 0.9" and "0.9 not evaluated" must be distinguishable
      thresholds.toDF("t_bps")
        .join(ne, Seq("t_bps"), "left")
        .join(ndc, Seq("t_bps"), "left")
        .select($"t_bps", coalesce($"n_edges", lit(0L)).as("n_edges"),
          coalesce($"n_docs", lit(0L)).as("n_docs"))
        .orderBy($"t_bps")
    },

    // ---- d74: JSONL interchange round-trip — the training-data
    // industry's wire format (one JSON object per line) written with
    // the native JSON sink and read back through the native JSON
    // source, proven LOSSLESS against the oracle computed from the
    // ORIGINAL table: per-lang doc counts, exact char sums, and an
    // order-insensitive XOR-of-fingerprint-prefixes corpus digest —
    // any mangled character, dropped row, or mis-escaped string breaks
    // the hash. Scale shape: the write is source-partitioned
    // (lang-keyed dirs, the d23 layout rule), the read-back schema is
    // pinned (no sampling inference pass at 100 TB), and the digest
    // aggregates map-side — XOR is commutative, so no ordering
    // constraint survives the round trip.
    GraftQuery.sql("d74_jsonl_roundtrip",
      """WITH fp AS (SELECT doc_id, lang,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm, text
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS chars_sum,
        |  CAST(bit_xor(('0x' || substr(md5(norm), 1, 15))::BIGINT) AS BIGINT) AS corpus_digest
        |FROM fp GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      // per-process scratch, reused within the JVM and deleted at exit
      // (an unbounded per-invocation temp leak once filled this host's
      // disk at sf1 — TempDirs owns the lifecycle now)
      val out = graft.util.TempDirs.scoped("graft-d74-roundtrip")
      docs(s, dir).select($"doc_id", $"lang", $"text")
        .write.mode("overwrite").partitionBy("lang").json(out)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("lang", StringType)))
      // digest column built from the CANONICAL Text.normalize — the
      // corpus-wide fingerprint definition must not fork from the rest
      // of the suite
      val fpLong = conv(substring(md5(Text.normalize($"text").cast("binary")), 1, 15),
        16, 10).cast("long")
      s.read.schema(schema).json(out)
        .withColumn("fp_long", fpLong)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length($"text")).cast("long").as("chars_sum"),
          expr("bit_xor(fp_long)").as("corpus_digest"))
        .orderBy($"lang")
    },

    // ---- d69: contamination LONGEST-RUN — the 13-gram-standard
    // refinement of d24's fraction: a doc whose eval overlap is one
    // long contiguous span is a verbatim leak even when its overall
    // hit fraction is low, so report the maximum run of CONSECUTIVE
    // contaminated 8-gram positions (≥6 windows ⇔ ≥13 contiguous
    // shared tokens). Gaps-and-islands on the position stream:
    // run id = pos − row_number, one window over the doc_id exchange.
    // Scale shape: positions come from the native position-ordered
    // shingle hashes (gram text never leaves the scan — the oracle's
    // gram strings and the hashes agree on membership), the eval gram
    // set broadcasts (d62's Bloom form replaces it at 100 TB), and
    // only contaminated positions — the tiny minority — reach the
    // islands window.
    GraftQuery.sql("d69_contamination_runs",
      s"""WITH nd AS (SELECT doc_id,
         |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents),
         |tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM nd),
         |s8 AS (SELECT doc_id, list_transform(
         |    range(0, greatest(len(toks) - 8, 0) + 1),
         |    i -> array_to_string(toks[i+1:i+8], ' ')) AS sh FROM tk),
         |ev AS (SELECT DISTINCT unnest(sh) AS g FROM s8 WHERE doc_id < 25),
         |p0 AS (SELECT doc_id, sh, unnest(range(len(sh))) AS pos FROM s8 WHERE doc_id >= 25),
         |pos AS (SELECT doc_id, pos, sh[pos+1] AS g FROM p0),
         |hit AS (SELECT pos.doc_id, pos.pos FROM pos JOIN ev ON pos.g = ev.g),
         |grp AS (SELECT doc_id, pos,
         |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM hit),
         |mr AS (SELECT doc_id, MAX(cnt) AS max_run FROM (
         |    SELECT doc_id, grp, COUNT(*) AS cnt FROM grp GROUP BY 1, 2) z GROUP BY doc_id),
         |base AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_grams FROM s8 WHERE doc_id >= 25)
         |SELECT b.doc_id, n_grams,
         |  CAST(COALESCE(max_run, 0) AS BIGINT) AS max_run,
         |  CAST(CASE WHEN COALESCE(max_run, 0) >= 6 THEN 1 ELSE 0 END AS BIGINT) AS flagged
         |FROM base b LEFT JOIN mr ON b.doc_id = mr.doc_id
         |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val sh = docs(s, dir)
        .select($"doc_id", Text.shingleHashesAll($"text", 8).as("sh"))
        .persist() // eval set + positions + per-doc sizes off one scan
      val evalG = sh.filter($"doc_id" < 25)
        .select(explode($"sh").as("g")).distinct()
      val hits = sh.filter($"doc_id" >= 25)
        .select($"doc_id", posexplode($"sh").as(Seq("pos", "g")))
        .join(broadcast(evalG), Seq("g"))
      val runs = hits
        .withColumn("grp", $"pos" -
          row_number().over(Window.partitionBy($"doc_id").orderBy($"pos")))
        .groupBy($"doc_id", $"grp").agg(count(lit(1)).as("cnt"))
        .groupBy($"doc_id").agg(max($"cnt").as("max_run"))
      sh.filter($"doc_id" >= 25)
        .select($"doc_id", size($"sh").cast("long").as("n_grams"))
        .join(runs, Seq("doc_id"), "left")
        .select($"doc_id", $"n_grams",
          coalesce($"max_run", lit(0L)).as("max_run"),
          (coalesce($"max_run", lit(0L)) >= 6).cast("long").as("flagged"))
        .orderBy($"doc_id")
    },

    // ---- d70: hard-negative mining for contrastive training — for
    // each query vector, the top-2 most-similar vectors carrying a
    // DIFFERENT label (the pairs that sharpen an embedding model's
    // decision boundary). Same machinery as d28's kNN with the label
    // constraint pushed INTO the join condition: the 20-row query side
    // broadcasts, the corpus streams through the block-parallel
    // codegen cosine, rejected same-label pairs never materialize, and
    // the per-query top-2 is a rank-limit window. Swap in the d11 IVF
    // probe when the full scan is too hot (d28's routing note).
    GraftQuery.sql("d70_hard_negatives",
      s"""$nvCte,
         |pr AS (SELECT q.vec_id AS q_id, q.label AS q_label,
         |    c.vec_id AS n_id, c.label AS n_label,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM nv q JOIN nv c ON c.vec_id >= 20 AND c.label <> q.label
         |  WHERE q.vec_id < 20),
         |rk AS (SELECT q_id, q_label, n_id, n_label,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
         |  FROM pr)
         |SELECT q_id, CAST(q_label AS BIGINT) AS q_label, n_id,
         |  CAST(n_label AS BIGINT) AS n_label, CAST(rk AS BIGINT) AS rk
         |FROM rk WHERE rk <= 2 ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
      import s.implicits._
      val p = s.conf.get("spark.sql.shuffle.partitions").toInt
      val nv = embs(s, dir)
        .select($"vec_id", $"embedding", $"label", Vectors.norm($"embedding").as("nrm"))
      val q = nv.filter($"vec_id" < 20)
        .select($"vec_id".as("q_id"), $"embedding".as("eq"),
          $"nrm".as("nq"), $"label".as("q_label"))
      val c = nv.filter($"vec_id" >= 20)
        .select($"vec_id".as("n_id"), $"embedding".as("ec"),
          $"nrm".as("nc"), $"label".as("n_label"))
        .repartition(p)
      val wNbr = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
      broadcast(q).join(c, $"n_label" =!= $"q_label")
        .withColumn("cos", Vectors.cosineWithNorms($"eq", $"ec", $"nq", $"nc"))
        .withColumn("rk", row_number().over(wNbr).cast("long"))
        .filter($"rk" <= 2)
        .select($"q_id", $"q_label".cast("long").as("q_label"), $"n_id",
          $"n_label".cast("long").as("n_label"), $"rk")
        .orderBy($"q_id", $"rk")
    },

    // ---- d71: content-defined chunking — Rabin-style boundaries for
    // dedup-friendly storage/transfer: a chunk breaks after token i
    // iff the 4-token window ending at i hashes below 1/8 of the hash
    // space, so boundaries depend ONLY on local content — an
    // insertion re-chunks its neighborhood and nothing else (the CDC
    // property fixed-width chunking lacks; d21 is the fixed-width
    // twin). Boundary flags are a map-side md5 projection over
    // positions; chunk ids are one prefix-sum window over the doc_id
    // exchange; per-chunk rollup (start, len, content fingerprint)
    // rides the same partitioning. Chunk text reduces to a 128-bit
    // fingerprint before leaving the operator.
    GraftQuery.sql("d71_cdc_chunks",
      s"""$cdcCte
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(MIN(pos) AS BIGINT) AS start, COUNT(*) AS len,
         |  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp
         |FROM ck GROUP BY doc_id, chunk_idx
         |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      import s.implicits._
      cdcChunks(s, dir)
        .select($"doc_id", $"chunk_idx", $"start", $"len",
          md5($"txt".cast("binary")).as("chunk_fp"))
        .orderBy($"doc_id", $"chunk_idx")
    },

    // ---- d72: bigram-LM surprisal — the conditional-probability rung
    // of the LM-scoring ladder (d66 scores unigram rarity; HERE each
    // bigram scores 1/p(w2|w1) in exact ppm: c_start(w1)·10⁶ div
    // c(w1w2), with c_start = occurrences of w1 as a bigram START so
    // numerator and denominator come from the same population). Doc
    // score = bigram-weighted mean surprisal, DECIMAL(38,0) through
    // the products (the d65/d66 overflow discipline). Scale shape: ONE
    // tokenization builds the (doc, bigram, k) partial aggregate;
    // bigram and first-token counts BOTH derive from that table; the
    // vocabulary-sized ratio table broadcasts back; the doc rollup
    // rides one doc_id exchange. flagged ⟺ mean surprisal > 4·10⁶
    // (mean conditional probability under 1/4 — the repetitive word
    // soup scores low, genuinely novel sequences high).
    GraftQuery.sql("d72_bigram_surprisal",
      s"""$normCte,
         |db AS (SELECT doc_id, w1, bg, COUNT(*) AS k FROM (
         |    SELECT doc_id, toks[i+1] AS w1,
         |      toks[i+1] || ' ' || toks[i+2] AS bg
         |    FROM (SELECT doc_id, string_split(norm, ' ') AS toks FROM nd) t,
         |      UNNEST(range(len(toks) - 1)) AS u(i)
         |    WHERE len(toks) >= 2) z GROUP BY 1, 2, 3),
         |c12 AS (SELECT bg, SUM(k) AS cbg FROM db GROUP BY bg),
         |c1 AS (SELECT w1, SUM(k) AS cw1 FROM db GROUP BY w1),
         |rat AS (SELECT bg, (CAST(cw1 AS HUGEINT) * 1000000) // cbg AS s_ppm
         |  FROM c12 JOIN c1 ON string_split(c12.bg, ' ')[1] = c1.w1),
         |ds AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
         |    CAST(SUM(k * CAST(s_ppm AS HUGEINT)) // SUM(k) AS BIGINT) AS score
         |  FROM db JOIN rat USING (bg) GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, score,
         |  CAST(CASE WHEN score > 4000000 THEN 1 ELSE 0 END AS BIGINT) AS flagged
         |FROM ds ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val db = docs(s, dir)
        .select($"doc_id", Text.tokens($"text").as("toks"))
        .filter(size($"toks") >= 2)
        .select($"doc_id", explode(transform(
          sequence(lit(0), size($"toks") - 2),
          i => struct(element_at($"toks", i + 1).as("w1"),
            concat_ws(" ", element_at($"toks", i + 1),
              element_at($"toks", i + 2)).as("bg")))).as("p"))
        .groupBy($"doc_id", $"p.w1".as("w1"), $"p.bg".as("bg"))
        .agg(count(lit(1)).as("k"))
        .persist() // feeds c12, c1, and the doc rollup
      val c12 = db.groupBy($"bg").agg(sum($"k").as("cbg"))
      val c1 = db.groupBy($"w1").agg(sum($"k").as("cw1"))
      val rat = c12
        .withColumn("w1", split($"bg", " ").getItem(0))
        .join(c1, "w1")
        .select($"bg",
          expr("(CAST(cw1 AS DECIMAL(38,0)) * 1000000) div cbg").as("s_ppm"))
      db.join(rat, "bg")
        .groupBy($"doc_id")
        .agg(sum($"k").as("n_bigrams"),
          expr("CAST(sum(k * CAST(s_ppm AS DECIMAL(38,0))) div sum(k) AS BIGINT)")
            .as("score"))
        .select($"doc_id", $"n_bigrams", $"score",
          ($"score" > 4000000L).cast("long").as("flagged"))
        .orderBy($"doc_id")
    },

    // ---- d73: voice-activity detection — the fourth multimodal batch
    // shape (signal segmentation over binary payloads): audio-typed
    // payloads cut into 160-byte frames, each scored by exact integer
    // energy Σ(v−97)² and thresholded, the voiced mask collapsed to
    // contiguous segments in the SAME per-record pass
    // (Multimodal.detectVoice — the codec-stub mapPartitions
    // boundary). Five longs per clip leave the operator; payload
    // bytes never shuffle; the oracle re-derives frames, energies,
    // and segments from the payload characters.
    GraftQuery.sql("d73_audio_vad", vadOracleSql) { (s, dir) =>
      import s.implicits._
      val media = graft.operators.Multimodal.mediaFromDocuments(s, docs(s, dir))
      graft.operators.Multimodal.detectVoice(media, frame = 160, meanSqThresh = 900L)
        .toDF()
        .orderBy($"doc_id")
    },

    // ---- d76: boilerplate removal — the C4/CCNet line-frequency rule
    // ("drop any line occurring ≥3 times in the corpus") re-expressed
    // over CDC chunks, since this corpus has no newlines and the CDC
    // cut (d71, one shared definition) is the content-stable segment
    // boundary. Distinct from d50 in KIND: d50 keeps a canonical copy
    // of cross-doc-shared substrings; boilerplate is removed from
    // EVERY occurrence — headers/footers/navigation have no canonical
    // home. Scale shape: chunk fingerprints partial-count map-side
    // into ONE fp-keyed exchange; the removal decision joins back
    // co-partitioned on that same fp key (at 100 TB the ≥3 minority
    // set is tiny — a Bloom over hot fps, d62's form, replaces the
    // join); the per-doc rollup and the cleaned-text fingerprint ride
    // one doc_id exchange. Chunk text is CDC-bounded (expected 8
    // tokens), so nothing here scales with document length.
    GraftQuery.sql("d76_boilerplate_remove",
      s"""$cdcCte,
         |ch AS (SELECT doc_id, chunk_idx, COUNT(*) AS len,
         |    string_agg(tok, ' ' ORDER BY pos) AS txt
         |  FROM ck GROUP BY 1, 2),
         |fq AS (SELECT md5(txt) AS fp, COUNT(*) AS freq FROM ch GROUP BY 1),
         |j AS (SELECT ch.doc_id, ch.chunk_idx, ch.len, ch.txt, fq.freq
         |  FROM ch JOIN fq ON md5(ch.txt) = fq.fp)
         |SELECT doc_id, COUNT(*) AS n_chunks,
         |  CAST(SUM(CASE WHEN freq >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  CAST(SUM(len) AS BIGINT) AS tok_total,
         |  CAST(SUM(CASE WHEN freq < 3 THEN len ELSE 0 END) AS BIGINT) AS tok_kept,
         |  md5(COALESCE(string_agg(CASE WHEN freq < 3 THEN txt END,
         |    ' ' ORDER BY chunk_idx), '')) AS clean_fp
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      // persisted: the chunk rollup feeds BOTH the frequency aggregate
      // and the join side — without it the whole CDC pipeline executes
      // twice (column pruning forks the subplans, so no ReusedExchange)
      val ch = cdcChunks(s, dir).withColumn("fp", md5($"txt".cast("binary")))
        .persist()
      val fq = ch.groupBy($"fp").agg(count(lit(1)).as("freq"))
      ch.join(fq, "fp")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(($"freq" >= 3).cast("long")).as("n_removed"),
          sum($"len").as("tok_total"),
          sum(when($"freq" < 3, $"len").otherwise(0L)).as("tok_kept"),
          md5(concat_ws(" ", transform(
            filter(
              array_sort(collect_list(struct($"chunk_idx",
                when($"freq" < 3, $"txt").as("txt")))),
              x => x.getField("txt").isNotNull),
            x => x.getField("txt"))).cast("binary")).as("clean_fp"))
        .orderBy($"doc_id")
    },

    // ---- d77: vocabulary growth curve (Heaps' law) in curation order
    // — the tokenizer-planning question "how fast does the type
    // inventory still grow?" answered WITHOUT re-scanning any prefix:
    // each type contributes exactly once, at its corpus-wide
    // first-occurrence doc (min doc_id — one token-keyed exchange with
    // map-side min partials, d53's first-occurrence table), first
    // occurrences and token mass histogram into 10 doc-id deciles
    // (decile = one broadcast scalar, max doc_id), and the cumulative
    // curve + type/token ratio come from a window over the TEN-row
    // decile table. The textbook form — count distinct tokens in each
    // prefix — scans the corpus 10 times and shuffles 10 near-full
    // distinct sets; this plan is one scan, two tiny exchanges, and
    // never re-reads a prefix.
    GraftQuery.sql("d77_vocab_growth",
      s"""$normCte,
         |nt AS (SELECT MAX(doc_id) + 1 AS n_total FROM documents),
         |dd AS (SELECT doc_id, LEAST(9, doc_id * 10 // n_total) AS dec
         |  FROM documents, nt),
         |tok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS tok
         |  FROM nd WHERE length(norm) > 0),
         |occ AS (SELECT dec, COUNT(*) AS toks
         |  FROM tok JOIN dd USING (doc_id) GROUP BY 1),
         |ft AS (SELECT tok, MIN(doc_id) AS first_doc FROM tok GROUP BY 1),
         |nw AS (SELECT dd.dec, COUNT(*) AS new_types
         |  FROM ft JOIN dd ON ft.first_doc = dd.doc_id GROUP BY 1),
         |dn AS (SELECT dec, COUNT(*) AS n_docs FROM dd GROUP BY 1),
         |g AS (SELECT unnest(generate_series(0, 9)) AS dec),
         |base AS (SELECT g.dec, COALESCE(dn.n_docs, 0) AS n_docs,
         |    COALESCE(occ.toks, 0) AS toks, COALESCE(nw.new_types, 0) AS new_types
         |  FROM g LEFT JOIN dn ON g.dec = dn.dec
         |    LEFT JOIN occ ON g.dec = occ.dec
         |    LEFT JOIN nw ON g.dec = nw.dec),
         |c AS (SELECT dec, n_docs, new_types, toks,
         |    SUM(new_types) OVER (ORDER BY dec) AS vocab_cum,
         |    SUM(toks) OVER (ORDER BY dec) AS tokens_cum FROM base)
         |SELECT CAST(dec AS BIGINT) AS decile, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(new_types AS BIGINT) AS new_types,
         |  CAST(vocab_cum AS BIGINT) AS vocab_cum,
         |  CAST(toks AS BIGINT) AS tokens_dec,
         |  CAST(tokens_cum AS BIGINT) AS tokens_cum,
         |  CAST(CASE WHEN tokens_cum > 0
         |    THEN vocab_cum * 1000000 // tokens_cum ELSE 0 END AS BIGINT) AS ttr_ppm
         |FROM c ORDER BY decile""".stripMargin) { (s, dir) =>
      import s.implicits._
      // one scalar to the driver — the decile RULE, not data (d61's
      // budget-scalar discipline)
      val nTotalRow = docs(s, dir).agg((max($"doc_id") + 1).as("n")).head()
      // null-safe on an empty table (max → NULL): any positive divisor
      // works, as no row exists to assign a decile to
      val nTotal = if (nTotalRow.isNullAt(0)) 1L else nTotalRow.getLong(0)
      val dec = least(lit(9L), expr(s"doc_id * 10 div $nTotal"))
      // persisted: the token table feeds the per-decile mass AND the
      // first-occurrence aggregate — one tokenization scan, as claimed
      // (the two remaining documents scans read only the doc_id column)
      val tok = docs(s, dir)
        .filter(length(Text.normalize($"text")) > 0)
        .select($"doc_id", explode(Text.tokens($"text")).as("tok"))
        .persist()
      val occ = tok.select(dec.as("decile"))
        .groupBy($"decile").agg(count(lit(1)).as("tokens_dec"))
      val nw = tok.groupBy($"tok").agg(min($"doc_id").as("doc_id"))
        .select(dec.as("decile"))
        .groupBy($"decile").agg(count(lit(1)).as("new_types"))
      val dn = docs(s, dir).select(dec.as("decile"))
        .groupBy($"decile").agg(count(lit(1)).as("n_docs"))
      // cumulative curve over the TEN-row decile table only
      val wCum = Window.orderBy($"decile")
        .rowsBetween(Window.unboundedPreceding, 0)
      (0L to 9L).toDF("decile")
        .join(dn, Seq("decile"), "left")
        .join(occ, Seq("decile"), "left")
        .join(nw, Seq("decile"), "left")
        .select($"decile", coalesce($"n_docs", lit(0L)).as("n_docs"),
          coalesce($"new_types", lit(0L)).as("new_types"),
          coalesce($"tokens_dec", lit(0L)).as("tokens_dec"))
        .withColumn("vocab_cum", sum($"new_types").over(wCum))
        .withColumn("tokens_cum", sum($"tokens_dec").over(wCum))
        .select($"decile", $"n_docs", $"new_types", $"vocab_cum",
          $"tokens_dec", $"tokens_cum",
          when($"tokens_cum" > 0,
            expr("vocab_cum * 1000000 div tokens_cum")).otherwise(0L).as("ttr_ppm"))
        .orderBy($"decile")
    },

    // ---- d78: embedding hygiene gate — the vector-side quality
    // filter every embedding pipeline runs before ANN/clustering
    // (d10/d46's precondition): per vector, non-finite entries, the
    // all-zero degenerate (cosine would NaN — Vectors.cosine's
    // documented non-defense), and an exact norm-outlier band
    // [med/2, 2·med] where the median norm comes from the VALUE
    // HISTOGRAM over integer basis points (d56's order-statistics
    // trick — the corpus is never sorted; the cumulative window runs
    // over distinct norm_bp values only, a domain bounded by the norm
    // range, and the one-row median broadcasts back). Norms are the
    // proven index-ascending double fold (nvCte parity idiom), floored
    // to bp so the comparison is integer-exact on both engines.
    GraftQuery.sql("d78_embedding_hygiene",
      """WITH v AS (SELECT vec_id, len(embedding) AS n_dims,
        |    len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE))
        |      OR isinf(CAST(x AS DOUBLE)))) AS n_bad,
        |    CASE WHEN len(list_filter(embedding, x -> x <> 0)) = 0
        |      THEN 1 ELSE 0 END AS is_zero,
        |    sqrt(list_sum(list_transform(range(len(embedding)),
        |      i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |vb AS (SELECT vec_id, n_dims, n_bad, is_zero,
        |    CASE WHEN n_bad > 0 THEN -1
        |      ELSE CAST(floor(nrm * 10000) AS BIGINT) END AS norm_bp FROM v),
        |h AS (SELECT norm_bp, COUNT(*) AS c FROM vb
        |  WHERE n_bad = 0 AND is_zero = 0 GROUP BY 1),
        |cum AS (SELECT norm_bp, SUM(c) OVER (ORDER BY norm_bp) AS cum,
        |    SUM(c) OVER () AS n FROM h),
        |med AS (SELECT MIN(norm_bp) AS med FROM cum WHERE cum * 2 >= n)
        |SELECT vec_id, CAST(n_dims AS BIGINT) AS n_dims,
        |  CAST(n_bad AS BIGINT) AS n_bad, CAST(is_zero AS BIGINT) AS is_zero,
        |  norm_bp,
        |  CASE WHEN n_bad > 0 THEN 'nonfinite' WHEN is_zero = 1 THEN 'zero'
        |    WHEN norm_bp * 2 < med OR norm_bp > med * 2 THEN 'outlier'
        |    ELSE 'ok' END AS status,
        |  CAST(CASE WHEN n_bad = 0 AND is_zero = 0
        |    AND norm_bp * 2 >= med AND norm_bp <= med * 2
        |    THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM vb, med ORDER BY vec_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val inf = lit(Float.PositiveInfinity)
      val v = embs(s, dir).select($"vec_id",
        size($"embedding").cast("long").as("n_dims"),
        size(filter($"embedding", x => isnan(x) || abs(x) === inf))
          .cast("long").as("n_bad"),
        (size(filter($"embedding", x => x =!= lit(0.0f))) === 0)
          .cast("long").as("is_zero"),
        Vectors.norm($"embedding").as("nrm"))
      val vb = v.select($"vec_id", $"n_dims", $"n_bad", $"is_zero",
        when($"n_bad" > 0, lit(-1L))
          .otherwise(floor($"nrm" * 10000).cast("long")).as("norm_bp"))
        .persist() // feeds the histogram and the final projection
      val wOrd = Window.orderBy($"norm_bp")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy()
      // median over the tiny norm_bp histogram (d56's cum*2 >= n pick)
      val med = vb.filter($"n_bad" === 0 && $"is_zero" === 0)
        .groupBy($"norm_bp").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum($"c").over(wOrd))
        .withColumn("n", sum($"c").over(wAll))
        .filter($"cum" * 2 >= $"n")
        .agg(min($"norm_bp").as("med"))
      vb.crossJoin(broadcast(med))
        .select($"vec_id", $"n_dims", $"n_bad", $"is_zero", $"norm_bp",
          when($"n_bad" > 0, "nonfinite").when($"is_zero" === 1, "zero")
            .when($"norm_bp" * 2 < $"med" || $"norm_bp" > $"med" * 2, "outlier")
            .otherwise("ok").as("status"),
          ($"n_bad" === 0 && $"is_zero" === 0 &&
            $"norm_bp" * 2 >= $"med" && $"norm_bp" <= $"med" * 2)
            .cast("long").as("kept"))
        .orderBy($"vec_id")
    },

    // ---- d79: cross-source quality calibration — the normalization
    // step a heterogeneous-corpus curation run needs BEFORE d61's
    // budget or d35's sampling can compare sources at all: a raw
    // quality score (d61's formula, ONE shared definition) means
    // different things under different source distributions, so each
    // doc is mapped to its WITHIN-SOURCE percentile, exactly:
    // cal_bp = (#docs in the same source with a strictly lower score)
    // · 10000 div n_source. Sort-free by the value-histogram
    // discipline (d56/d57/d78): scores partial-aggregate into a
    // (source, q_bp) histogram, the strictly-below cumulative runs
    // over THAT summary per source, and the tiny table broadcasts back
    // onto a map-side projection — the corpus is never sorted, never
    // windowed, and the exchange key is (source, q_bp), bounded by
    // score domain × sources, independent of corpus size.
    GraftQuery.sql("d79_quality_calibrate",
      s"""$qualityCte,
         |h AS (SELECT source, q_bp, COUNT(*) AS c FROM q GROUP BY 1, 2),
         |cum AS (SELECT source, q_bp,
         |    COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY q_bp
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnt_lt,
         |    SUM(c) OVER (PARTITION BY source) AS n_s FROM h)
         |SELECT q.doc_id, q.source, q.q_bp,
         |  CAST(cnt_lt * 10000 // n_s AS BIGINT) AS cal_bp,
         |  CAST(CASE WHEN cnt_lt * 2 >= n_s THEN 1 ELSE 0 END AS BIGINT) AS top_half
         |FROM q JOIN cum ON q.source = cum.source AND q.q_bp = cum.q_bp
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      // persisted: both the histogram build and the per-doc assignment
      // join read the scored corpus (mid-plan cache pattern, see d61)
      val q = qualityScores(s, dir).persist()
      val wLt = Window.partitionBy($"source").orderBy($"q_bp")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wSrc = Window.partitionBy($"source")
      // windows run over the (source, q_bp) HISTOGRAM only
      val cum = q.groupBy($"source", $"q_bp").agg(count(lit(1)).as("c"))
        .withColumn("cnt_lt", coalesce(sum($"c").over(wLt), lit(0L)))
        .withColumn("n_s", sum($"c").over(wSrc))
        .drop("c")
      q.join(broadcast(cum), Seq("source", "q_bp"))
        .select($"doc_id", $"source", $"q_bp",
          expr("cnt_lt * 10000 div n_s").as("cal_bp"),
          ($"cnt_lt" * 2 >= $"n_s").cast("long").as("top_half"))
        .orderBy($"doc_id")
    },

    // ---- d80: PERCEPTUAL-hash image near-dup — the multimodal member
    // of the dedup matrix (d1 exact bytes, d6/d7 lexical, d38 semantic;
    // this one catches re-encoded/resized images whose bytes differ but
    // whose content doesn't). Pipeline: payload → square thumbnail
    // (side = ceil(√n), exact integer sqrt with a defensive ±1 fixup so
    // both engines agree at perfect squares; the wrap is the codec
    // stand-in — a real deployment decodes pixels; d60's header-derived
    // rectangle leaves 95%+ of tall frames zero-padding, which
    // collapses every hash to "black image") → d60's area-interpolated
    // 8×8 pooling (Multimodal.resizeToGrid, ONE shared pooling
    // definition) → aHash (bit i = 64·cell_i > Σcells, the
    // division-free mean compare) → 8 bands × 8 bits, pairs sharing a
    // band verified at exact hamming ≤ 10 via bit_count(xor) —
    // pigeonhole guarantees every pair at hamming ≤ 7 shares a band
    // (d7's contract), 8–10 found with high probability. Scale shape:
    // the hash is 8 bytes/image, the candidate join shuffles band
    // bytes, never pixels; degenerate buckets (flat images all hashing
    // alike) are capped at MaxBucket=1000 like d6, so the pair join is
    // bucketed, not all-pairs. Fully deterministic ⇒ the oracle
    // replays thumbnail, hash, banding, cap, and verify bit-for-bit.
    GraftQuery.sql("d80_phash_neardup",
      phashCtes +
        "\nSELECT a_id, b_id, hamming FROM ham WHERE hamming <= 10" +
        "\nORDER BY a_id, b_id") { (s, dir) =>
      import s.implicits._
      phashPairs(s, dir).orderBy($"a_id", $"b_id")
    },

    // ---- d85: perceptual-hash DEDUP CLUSTERS — d80's near-dup pairs
    // contracted to connected components (the d13 step for the image
    // modality): cluster assignment via DedupClusters' large-star/
    // small-star contraction (O(log² n), layout-independent), keeper =
    // the cluster's minimum doc_id (min-id survivorship, d13's
    // convention), plus each cluster's member count. ONE pair
    // definition (phashPairs/phashCtes shared with d80) — the
    // clustering entry cannot drift from the pair entry. The oracle
    // appends the recursive-CTE componentization to the SAME replayed
    // pipeline.
    GraftQuery.sql("d85_phash_clusters",
      phashCtes + """,
        |e AS (SELECT a_id AS src, b_id AS dst FROM ham WHERE hamming <= 10
        |  UNION ALL SELECT b_id, a_id FROM ham WHERE hamming <= 10),
        |reach AS (SELECT doc_id AS a, doc_id AS b FROM img
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
        |lab AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
        |sz AS (SELECT cluster_id, COUNT(*) AS n_members FROM lab GROUP BY 1)
        |SELECT lab.doc_id, lab.cluster_id, sz.n_members,
        |  CAST(CASE WHEN lab.doc_id = lab.cluster_id THEN 1 ELSE 0 END AS BIGINT)
        |    AS keeper
        |FROM lab JOIN sz ON lab.cluster_id = sz.cluster_id
        |ORDER BY lab.doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val nodes = docs(s, dir).filter(pmod($"doc_id", lit(3)) === 0)
        .filter(octet_length($"text") === length($"text")) // phashCtes' ASCII gate
        .select($"doc_id")
      val pairs = phashPairs(s, dir).select($"a_id", $"b_id")
      val lab = graft.operators.DedupClusters.assign(nodes, pairs)
      val sz = lab.groupBy($"cluster_id").agg(count(lit(1)).as("n_members"))
      lab.join(sz, "cluster_id")
        .select($"doc_id", $"cluster_id", $"n_members",
          ($"doc_id" === $"cluster_id").cast("long").as("keeper"))
        .orderBy($"doc_id")
    },

    // ---- d86: quality-cutoff YIELD CURVE — d75's threshold-sweep
    // artifact for the quality axis (the "choose the gate" input a
    // curation run reads before fixing d61's budget or d79's
    // calibration): for each candidate cutoff on a fixed grid, the
    // docs and tokens admitted at q_bp ≥ cutoff and the token share in
    // exact basis points. Everything reads off the (q_bp) HISTOGRAM
    // (d56/d61 discipline): one partial aggregate over the corpus,
    // then an 11×|bins| join over tiny relations — sweeping a
    // threshold costs nothing more than reading the histogram again,
    // and the corpus is scanned ONCE for all 11 cutoffs.
    GraftQuery.sql("d86_quality_yield",
      s"""$qualityCte,
         |h AS (SELECT q_bp, COUNT(*) AS c, SUM(n_tok) AS t FROM q GROUP BY 1),
         |tot AS (SELECT SUM(t) AS td FROM h),
         |cuts AS (SELECT unnest(generate_series(2000, 7000, 500)) AS cutoff),
         |y AS (SELECT cuts.cutoff,
         |    CAST(COALESCE(SUM(h.c), 0) AS BIGINT) AS n_docs,
         |    CAST(COALESCE(SUM(h.t), 0) AS BIGINT) AS n_tok
         |  FROM cuts LEFT JOIN h ON h.q_bp >= cuts.cutoff GROUP BY 1)
         |SELECT CAST(cutoff AS BIGINT) AS cutoff, n_docs, n_tok,
         |  CAST(n_tok * 10000 // tot.td AS BIGINT) AS tok_share_bp
         |FROM y CROSS JOIN tot ORDER BY cutoff""".stripMargin) { (s, dir) =>
      import s.implicits._
      val h = qualityScores(s, dir)
        .groupBy($"q_bp")
        .agg(count(lit(1)).as("c"), sum($"n_tok").as("t"))
        .persist() // the total row and the sweep join
      val tot = h.agg(sum($"t").as("td"))
      val cuts = (2000L to 7000L by 500L).toDF("cutoff")
      cuts.join(h, $"q_bp" >= $"cutoff", "left")
        .groupBy($"cutoff")
        .agg(coalesce(sum($"c"), lit(0L)).as("n_docs"),
          coalesce(sum($"t"), lit(0L)).as("n_tok"))
        .crossJoin(broadcast(tot))
        .select($"cutoff", $"n_docs", $"n_tok",
          expr("n_tok * 10000 div td").as("tok_share_bp"))
        .orderBy($"cutoff")
    },


    // ---- d81: HYBRID retrieval — reciprocal-rank fusion (RRF,
    // Cormack et al. SIGIR'09) of a lexical ranking and a dense
    // ranking, the serving-side shape every RAG/retrieval pipeline
    // runs: per query, top-20 by unigram-set Jaccard and top-20 by
    // embedding cosine (vec_id ≡ doc_id on this corpus) fuse as
    // score = Σ 1/(60+rank), a doc absent from one list contributing
    // 0 from it. Ranks are integer-exact (jaccard ties compare as
    // identical doubles from identical int ratios, then doc_id; cosine
    // is d10's scorer); the fused score is a two-term double from a
    // tiny discrete set — deterministic in both engines. Scale shape:
    // the query side is tiny and BROADCAST to both modality scans (one
    // token-postings join, one vector scan — each one corpus pass);
    // ranks window per-query over per-query-bounded candidate sets;
    // nothing global sorts. The windows' input is capped by the
    // broadcast postings join (lexical) and the top-20 truncation.
    GraftQuery.sql("d81_hybrid_rrf",
      s"""$normCte,
         |tok AS (SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS t FROM nd),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
         |inter AS (SELECT q.doc_id AS q_id, d.doc_id AS doc_id, COUNT(*) AS i
         |  FROM tok q JOIN tok d ON q.t = d.t AND q.doc_id < 10
         |    AND d.doc_id <> q.doc_id
         |  GROUP BY 1, 2),
         |jr AS (SELECT inter.q_id, inter.doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY inter.q_id ORDER BY
         |      CAST(i AS DOUBLE) / (sq.n + sd.n - i) DESC, inter.doc_id) AS rl
         |  FROM inter JOIN sz sq ON sq.doc_id = inter.q_id
         |  JOIN sz sd ON sd.doc_id = inter.doc_id),
         |lex AS (SELECT q_id, doc_id, rl FROM jr WHERE rl <= 20),
         |nv AS $nvBody,
         |vp AS (SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM nv q JOIN nv c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |vr AS (SELECT q_id, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rv
         |  FROM vp),
         |vec AS (SELECT q_id, doc_id, rv FROM vr WHERE rv <= 20),
         |fused AS (SELECT COALESCE(l.q_id, v.q_id) AS q_id,
         |    COALESCE(l.doc_id, v.doc_id) AS doc_id,
         |    COALESCE(l.rl, 0) AS r_lex, COALESCE(v.rv, 0) AS r_vec,
         |    COALESCE(1.0 / (60 + l.rl), 0) + COALESCE(1.0 / (60 + v.rv), 0) AS rrf
         |  FROM lex l FULL JOIN vec v ON l.q_id = v.q_id AND l.doc_id = v.doc_id),
         |rk AS (SELECT q_id, doc_id, r_lex, r_vec, rrf,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rk
         |  FROM fused)
         |SELECT q_id, doc_id, r_lex, r_vec, ROUND(rrf, 9) AS rrf, rk
         |FROM rk WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
      import s.implicits._
      val tok = docs(s, dir)
        .select($"doc_id", explode(Text.tokens($"text")).as("t")).distinct()
        .persist() // query side AND corpus side of the postings join
      val sz = tok.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val qtok = tok.filter($"doc_id" < 10)
        .select($"doc_id".as("q_id"), $"t")
      val inter = broadcast(qtok)
        .join(tok.withColumnRenamed("doc_id", "d_id"), "t")
        .filter($"d_id" =!= $"q_id")
        .groupBy($"q_id", $"d_id").agg(count(lit(1)).as("i"))
      val wLex = Window.partitionBy($"q_id")
        .orderBy(($"i".cast("double") / ($"nq" + $"nd" - $"i")).desc, $"d_id")
      val lex = inter
        .join(broadcast(sz.select($"doc_id".as("q_id"), $"n".as("nq"))), "q_id")
        .join(sz.select($"doc_id".as("d_id"), $"n".as("nd")), "d_id")
        .withColumn("rl", row_number().over(wLex).cast("long"))
        .filter($"rl" <= 20)
        .select($"q_id", $"d_id".as("doc_id"), $"rl")
      val nv = embs(s, dir)
        .select($"vec_id", $"embedding", Vectors.norm($"embedding").as("nrm"))
      val qv = nv.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"embedding".as("eq"), $"nrm".as("nq"))
      val cv = nv.select($"vec_id".as("doc_id"), $"embedding".as("ec"), $"nrm".as("nc"))
      val wVec = Window.partitionBy($"q_id").orderBy($"cos".desc, $"doc_id")
      val vec = broadcast(qv).join(cv, $"q_id" =!= $"doc_id")
        .withColumn("cos", Vectors.cosineWithNorms($"eq", $"ec", $"nq", $"nc"))
        .withColumn("rv", row_number().over(wVec).cast("long"))
        .filter($"rv" <= 20)
        .select($"q_id", $"doc_id", $"rv")
      val wFuse = Window.partitionBy($"q_id").orderBy($"rrf".desc, $"doc_id")
      lex.join(vec, Seq("q_id", "doc_id"), "full")
        .select($"q_id", $"doc_id",
          coalesce($"rl", lit(0L)).as("r_lex"),
          coalesce($"rv", lit(0L)).as("r_vec"),
          (coalesce(lit(1.0) / (lit(60) + $"rl"), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + $"rv"), lit(0.0))).as("rrf"))
        .withColumn("rk", row_number().over(wFuse).cast("long"))
        .filter($"rk" <= 10)
        .select($"q_id", $"doc_id", $"r_lex", $"r_vec",
          round($"rrf", 9).as("rrf"), $"rk")
        .orderBy($"q_id", $"rk")
    },

    // ---- d82: trigram-LM fluency scoring — the KenLM-style "does a
    // small LM find this text plausible" filter (CCNet's wikipedia-LM
    // perplexity gate, d66's rarity cousin one order deeper), EXACT:
    // an interpolated trigram model (λ = 0.7/0.2/0.1, add-1 unigram
    // floor so P > 0 always) trains on the doc_id ≥ 100 slice and
    // scores doc_id < 100. Per position, P = (7·P3 + 2·P2 + P1)/10
    // goes over the common denominator D = 10·c2ctx·c1prev·(N+V+1) so
    // the per-position INVERSE probability is one HUGEINT/DECIMAL(38,0)
    // floor-division inv = D div Num — no log, no float (d72's
    // discipline; log-perplexity would hash-diverge on libm). Doc
    // score = mean inverse probability (arithmetic-mean proxy for
    // perplexity — monotone in the same filtering decision). c3 ≤ c2ctx
    // and c2 ≤ c1prev make the GREATEST(…,1) denominators exact:
    // a zeroed context zeroes its numerator term with it. Scale shape:
    // count tables are vocab-bounded (unigram/bigram/trigram keyed by
    // token strings — the 100 TB join key is the gram, not the doc);
    // eval positions join them by gram key (partial-agg map side), and
    // the per-doc rollup is one doc_id-keyed exchange.
    GraftQuery.sql("d82_trigram_lm",
      s"""$normCte,
         |tk AS (SELECT doc_id, p - 1 AS pos, tok FROM (
         |    SELECT doc_id, unnest(string_split(norm, ' ')) AS tok,
         |           generate_subscripts(string_split(norm, ' '), 1) AS p
         |    FROM nd)),
         |tr AS (SELECT doc_id, pos, tok FROM tk WHERE doc_id >= 100),
         |c1 AS (SELECT tok, COUNT(*) AS c FROM tr GROUP BY 1),
         |st AS (SELECT (SELECT COUNT(*) FROM tr)
         |            + (SELECT COUNT(DISTINCT tok) FROM tr) + 1 AS m),
         |big AS (SELECT a.tok AS t1, b.tok AS t2, COUNT(*) AS c FROM tr a
         |  JOIN tr b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 GROUP BY 1, 2),
         |tri AS (SELECT a.tok AS t1, b.tok AS t2, c.tok AS t3, COUNT(*) AS c
         |  FROM tr a JOIN tr b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  JOIN tr c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2 GROUP BY 1, 2, 3),
         |ev AS (SELECT doc_id, pos,
         |    lag(tok, 2) OVER w AS w1, lag(tok, 1) OVER w AS w2, tok AS w3
         |  FROM tk WHERE doc_id < 100
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |pos3 AS (SELECT * FROM ev WHERE w1 IS NOT NULL),
         |sc AS (SELECT p.doc_id,
         |    GREATEST(COALESCE(bc.c, 0), 1) AS c2ctx,
         |    GREATEST(COALESCE(c1p.c, 0), 1) AS c1prev,
         |    COALESCE(tc.c, 0) AS c3, COALESCE(bn.c, 0) AS c2,
         |    COALESCE(c1w.c, 0) AS c1w, st.m AS m
         |  FROM pos3 p CROSS JOIN st
         |  LEFT JOIN tri tc ON tc.t1 = p.w1 AND tc.t2 = p.w2 AND tc.t3 = p.w3
         |  LEFT JOIN big bc ON bc.t1 = p.w1 AND bc.t2 = p.w2
         |  LEFT JOIN big bn ON bn.t1 = p.w2 AND bn.t2 = p.w3
         |  LEFT JOIN c1 c1p ON c1p.tok = p.w2
         |  LEFT JOIN c1 c1w ON c1w.tok = p.w3),
         |iv AS (SELECT doc_id,
         |    (CAST(10 AS HUGEINT) * c2ctx * c1prev * m)
         |      // (CAST(7 AS HUGEINT) * c3 * c1prev * m
         |        + CAST(2 AS HUGEINT) * c2 * c2ctx * m
         |        + CAST(c1w + 1 AS HUGEINT) * c2ctx * c1prev) AS inv
         |  FROM sc)
         |SELECT doc_id, COUNT(*) AS n_pos,
         |  CAST(SUM(inv) // COUNT(*) AS BIGINT) AS mean_inv
         |FROM iv GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val (c1, big, tri, st) = lmCounts(s, dir)
      val ev = lmPositions(
        docs(s, dir).filter($"doc_id" < 100).select($"doc_id", $"text"))
      lmScore(ev, c1, big, tri, st).orderBy($"doc_id")
    },

    // ---- d83: top principal component by integer-lattice POWER
    // ITERATION (operators.PowerIteration) — the spectral step of
    // embedding hygiene (d78's cousin): the corpus' dominant direction
    // plus each vector's exact projection onto it, with the top-2%
    // |projection| tail flagged as dominant-direction outliers (the
    // "all-but-the-top" diagnostic). Every iterate lives on KMeans'
    // 2^-20 lattice (exact rounded-mean centering, BIGINT matvec,
    // DECIMAL(38,0)/HUGEINT second pass, shift-based floor division
    // that agrees on negatives in both engines), so the oracle unrolls
    // all 3 rounds and hash-checks the full spectral computation.
    // The global |proj| rank runs over vec-cardinality rows (e28's
    // caveat: at 1000-executor vector counts swap in d57's
    // histogram-cut for the same 2% boundary).
    GraftQuery.sql("d83_pca_outliers", {
      val rounds = (1 to 3).map { r =>
        val dPrev = if (r == 1) "SUM(cv * 1048576)"
                    else s"SUM(cv * v${r - 1}.v)"
        val dJoin = if (r == 1) "" else s" JOIN v${r - 1} USING(pos)"
        s"""d$r AS (SELECT vec_id, $dPrev AS d FROM c$dJoin GROUP BY 1),
           |w$r AS (SELECT pos, SUM(CAST(cv AS HUGEINT) * d) AS w
           |  FROM c JOIN d$r USING(vec_id) GROUP BY 1),
           |m$r AS (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM w$r),
           |v$r AS (SELECT pos,
           |    (1048576*w + 2097152*m) // m - 2097152 AS v FROM w$r, m$r)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH qv AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1048576.0) AS BIGINT)) AS q
         |  FROM embeddings),
         |px AS (SELECT vec_id, i AS pos, q[i+1] AS qval
         |  FROM qv, UNNEST(generate_series(0, len(q)-1)) AS t(i)),
         |mu AS (SELECT pos, (2*SUM(qval)+COUNT(*)) // (2*COUNT(*)) AS mu
         |  FROM px GROUP BY 1),
         |c AS MATERIALIZED (SELECT vec_id, px.pos, qval - mu AS cv
         |  FROM px JOIN mu USING(pos)),
         |$rounds,
         |proj AS (SELECT c.vec_id, CAST(SUM(c.cv * v3.v) AS BIGINT) AS proj
         |  FROM c JOIN v3 USING(pos) GROUP BY 1),
         |rk AS (SELECT vec_id, proj,
         |    ROW_NUMBER() OVER (ORDER BY ABS(proj) DESC, vec_id) AS r,
         |    COUNT(*) OVER () AS n FROM proj)
         |SELECT vec_id, proj,
         |  CAST(CASE WHEN r <= n // 50 THEN 1 ELSE 0 END AS BIGINT) AS is_tail
         |FROM rk ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val (_, proj) = graft.operators.PowerIteration
        .topComponent(s, embs(s, dir), iters = 3)
      val wAbs = Window.orderBy(abs($"proj").desc, $"vec_id")
      val wAll = Window.partitionBy()
      proj
        .withColumn("r", row_number().over(wAbs))
        .withColumn("n", count(lit(1)).over(wAll))
        .select($"vec_id", $"proj",
          ($"r" <= expr("n div 50")).cast("long").as("is_tail"))
        .orderBy($"vec_id")
    },

    // ---- d84: the per-source DATASET CARD — the corpus-level report a
    // curation run publishes alongside the data (datasheet/data-card
    // practice): per source, doc and token counts, language breadth,
    // the exact-duplicate count under d1's corpus-wide fingerprint
    // (ONE definition — Text.fingerprint/md5(norm)), and exact quality
    // quartiles of d61's score. Quartiles come from the (source, q_bp)
    // HISTOGRAM (d56's cum·4 ≥ k·n pick — sort-free, exchange key
    // bounded by score domain × sources); the duplicate census joins
    // the corpus-wide fingerprint counts back by 16-byte hash, never
    // text. Counts n_docs/n_langs/n_dup run over ALL docs; token and
    // quartile columns over the scoreable (nonempty-norm) slice —
    // the same split qualityCte itself draws.
    GraftQuery.sql("d84_corpus_report",
      s"""$qualityCte,
         |fpc AS (SELECT md5(norm) AS f, COUNT(*) AS nc FROM nd GROUP BY 1),
         |dups AS (SELECT nd.source, COUNT(*) AS n_dup
         |  FROM nd JOIN fpc ON md5(nd.norm) = fpc.f WHERE fpc.nc > 1
         |  GROUP BY 1),
         |allc AS (SELECT source, COUNT(*) AS n_docs,
         |    COUNT(DISTINCT lang) AS n_langs FROM nd GROUP BY 1),
         |h AS (SELECT source, q_bp, COUNT(*) AS c FROM q GROUP BY 1, 2),
         |cq AS (SELECT source, q_bp,
         |    SUM(c) OVER (PARTITION BY source ORDER BY q_bp) AS cum,
         |    SUM(c) OVER (PARTITION BY source) AS n FROM h),
         |qs AS (SELECT source,
         |    MIN(CASE WHEN cum*4 >= n THEN q_bp END) AS q25,
         |    MIN(CASE WHEN cum*2 >= n THEN q_bp END) AS q50,
         |    MIN(CASE WHEN cum*4 >= 3*n THEN q_bp END) AS q75 FROM cq GROUP BY 1),
         |tk AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tok FROM q GROUP BY 1)
         |SELECT allc.source AS source, n_docs, n_langs,
         |  COALESCE(n_dup, 0) AS n_dup, tk.n_tok, qs.q25, qs.q50, qs.q75
         |FROM allc JOIN tk ON allc.source = tk.source
         |LEFT JOIN dups ON allc.source = dups.source
         |JOIN qs ON allc.source = qs.source
         |ORDER BY source""".stripMargin) { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir)
      val fpd = d.select($"doc_id", $"source", $"lang",
        Text.fingerprint($"text").as("f"))
        .persist() // the corpus census and the duplicate join
      val fpc = fpd.groupBy($"f").agg(count(lit(1)).as("nc"))
      val dups = fpd.join(fpc.filter($"nc" > 1), "f")
        .groupBy($"source").agg(count(lit(1)).as("n_dup"))
      val allc = fpd.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), countDistinct($"lang").as("n_langs"))
      // persisted: the quartile histogram and the per-source token
      // rollup both read the scored corpus (mid-plan cache pattern)
      val q = qualityScores(s, dir).persist()
      val wCum = Window.partitionBy($"source").orderBy($"q_bp")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wSrc = Window.partitionBy($"source")
      // quartiles over the tiny (source, q_bp) histogram only
      val qs = q.groupBy($"source", $"q_bp").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum($"c").over(wCum))
        .withColumn("n", sum($"c").over(wSrc))
        .groupBy($"source")
        .agg(min(when($"cum" * 4 >= $"n", $"q_bp")).as("q25"),
          min(when($"cum" * 2 >= $"n", $"q_bp")).as("q50"),
          min(when($"cum" * 4 >= $"n" * 3, $"q_bp")).as("q75"))
      val tk = q.groupBy($"source").agg(sum($"n_tok").as("n_tok"))
      allc.join(tk, "source")
        .join(dups, Seq("source"), "left")
        .join(qs, "source")
        .select($"source", $"n_docs", $"n_langs",
          coalesce($"n_dup", lit(0L)).as("n_dup"),
          $"n_tok", $"q25", $"q50", $"q75")
        .orderBy($"source")
    }
  )

  /** d73's oracle, shared with the streaming twin s25 (identical rows
    * by stream/batch parity — the stateless projection commutes with
    * micro-batching). Lazy: declared after `queries`, whose d73 entry
    * captures it — an eager val would still be null at that point. */
  private[queries] lazy val vadOracleSql: String =
      """WITH au AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
        |fr AS (SELECT doc_id, p // 160 AS fidx,
        |    ord(substr(text, CAST(p+1 AS INT), 1)) AS v
        |  FROM au, UNNEST(generate_series(0, (length(text) // 160) * 160 - 1)) AS t(p)),
        |fe AS (SELECT doc_id, fidx, SUM((v - 97) * (v - 97)) AS e
        |  FROM fr GROUP BY 1, 2),
        |vo AS (SELECT doc_id, fidx FROM fe WHERE e > 900 * 160),
        |grp AS (SELECT doc_id, fidx,
        |    fidx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fidx) AS g
        |  FROM vo),
        |seg AS (SELECT doc_id, g, COUNT(*) AS len FROM grp GROUP BY 1, 2),
        |agg AS (SELECT doc_id, COUNT(*) AS n_segments, MAX(len) AS longest,
        |    SUM(len) AS n_voiced FROM seg GROUP BY doc_id)
        |SELECT au.doc_id, CAST(length(au.text) // 160 AS BIGINT) AS n_frames,
        |  CAST(COALESCE(n_voiced, 0) AS BIGINT) AS n_voiced,
        |  CAST(COALESCE(n_segments, 0) AS BIGINT) AS n_segments,
        |  CAST(COALESCE(longest, 0) AS BIGINT) AS longest
        |FROM au LEFT JOIN agg ON au.doc_id = agg.doc_id
        |ORDER BY au.doc_id""".stripMargin
}
