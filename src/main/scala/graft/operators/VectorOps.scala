package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.vectors._
import graft.sources.Tables

/** SURVEY §2 block C (vectors): similarity search + embedding near-dup over
  * the `embeddings` table (array<float> 64-dim, unit-norm).
  *
  * Scale design:
  *  - C6 brute force: the QUERY SET is broadcast, the corpus is scanned
  *    once; scoring is a codegen'd single-pass expression; top-k is a
  *    window over query_id (per-query partitions). Corpus-side shuffle: one,
  *    by query_id after scoring prune — acceptable because the scored rows
  *    are (query, neighbor, score) triples, not vectors.
  *  - C7/C5 LSH: bucket ids from LshSignBuckets become the join key; the
  *    all-pairs problem becomes per-bucket joins. At 100 TB you raise
  *    `bits` so buckets stay bounded; candidate verification stays exact.
  *  - Oracle parity: scoring uses QuantizedCosine (integer-exact, see
  *    VectorExpressions) so Spark and DuckDB agree bit-for-bit.
  */
object VectorOps {

  /** Corpus as array<double> (exact float→double widening). */
  private[graft] def emb(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  private val embSql =
    "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)"

  // quantized vector in SQL (the oracle twin of QuantizedCosine's integers)
  private[operators] def qSql(v: String) =
    s"list_transform($v, x -> CAST(floor(x * 1000000.0) AS BIGINT))"

  private[operators] def qcosSql(a: String, b: String) =
    s"""CAST(list_sum(list_transform(list_zip($a, $b), p -> p[1]*p[2])) AS DOUBLE)
       |      / sqrt(CAST(list_sum(list_transform($a, x -> x*x)) AS DOUBLE))
       |      / sqrt(CAST(list_sum(list_transform($b, x -> x*x)) AS DOUBLE))""".stripMargin

  // --- C6: exact cosine top-k ---------------------------------------------
  val TopK = 10

  def annBruteTopk(spark: SparkSession, dir: String): DataFrame = {
    val corpus = emb(spark, dir)
    Ann.bruteTopK(corpus, corpus.filter(col("vec_id") % 50 === 0),
        "vec_id", "emb", TopK)
      .orderBy(col("query_id"), col("rank"))
  }

  val annBruteTopkSql: String =
    s"""WITH $embSql,
       |q AS (SELECT vec_id, ${qSql("emb")} AS qv FROM emb),
       |qs AS (SELECT vec_id AS query_id, qv AS qqv FROM q WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT query_id, q.vec_id AS neighbor_id,
       |    ${qcosSql("q.qv", "qs.qqv")} AS score
       |  FROM q CROSS JOIN qs WHERE q.vec_id <> qs.query_id)
       |SELECT query_id, neighbor_id, score,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |       ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // --- C5: embedding near-dup pairs (LSH candidates + exact verify) -------
  /** The synthetic corpus has no natural near-dups (max cosine ≈ 0.6), so
    * every 10th vector is re-inserted slightly perturbed
    * (xᵢ → xᵢ + 0.01·xᵢ², cosine ≈ 0.99999) under a shifted id — in both
    * engines identically (IEEE ops on exact float→double values).
    */
  val DedupThreshold = 0.999
  val DedupTables = 8
  val DedupBits = 12
  val Dim = 64

  def dedupEmbCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir)
    base.unionAll(
      base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("emb"), x => x + lit(0.01) * x * x).as("emb")))
  }

  private val dedupEmbCorpusSql =
    s"""$embSql,
       |corpus AS (
       |  SELECT vec_id, emb FROM emb
       |  UNION ALL
       |  SELECT vec_id + 1000000, list_transform(emb, x -> x + 0.01*x*x) AS emb
       |  FROM emb WHERE vec_id % 10 = 0)""".stripMargin

  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingPairs(dedupEmbCorpus(spark, dir), "vec_id", "emb", Dim,
        DedupThreshold, tables = DedupTables, bits = DedupBits)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"), col("score"))
      .orderBy(col("vec_a"), col("vec_b"))

  val dedupEmbeddingSql: String =
    s"""WITH $dedupEmbCorpusSql,
       |q AS (SELECT vec_id, ${qSql("emb")} AS qv FROM corpus),
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${qcosSql("a.qv", "b.qv")} AS score
       |  FROM q a JOIN q b ON a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, score FROM pairs
       |WHERE score >= $DedupThreshold
       |ORDER BY vec_a, vec_b""".stripMargin

  // --- C7: approximate top-k via LSH buckets (rows-only; recall spec) -----
  val AnnTables = 16
  val AnnBits = 4

  def annLshTopk(spark: SparkSession, dir: String): DataFrame = {
    val corpus = emb(spark, dir)
    Ann.lshTopK(corpus, corpus.filter(col("vec_id") % 50 === 0),
        "vec_id", "emb", Dim, TopK, tables = AnnTables, bits = AnnBits)
      .orderBy(col("query_id"), col("rank"))
  }

  // --- C107: LSH table health audit -----------------------------------------
  /** Per-table occupancy of the C7 sign-LSH layout — C68's skew board
    * for the OTHER candidate-generation index: per table, the number of
    * occupied buckets, the hottest bucket, and Σ size² (the exact
    * numerator of a random query's expected candidate count, Σ sz²/n —
    * probe cost is quadratic in bucket occupancy, so a saturated table
    * means raise `bits`). With the md5-derived planes and integer-dot
    * projections the whole board is a deterministic SQL replay —
    * oracle-checked, unlike most index audits.
    *
    * Scale shape: one codegen bucket map over the corpus, one
    * (table, bucket)-keyed partial-agg exchange to the O(tables × 2^bits)
    * board, one table-keyed rollup — never a pair join. */
  def annLshStats(spark: SparkSession, dir: String): DataFrame = {
    val corpus = emb(spark, dir)
    val b = corpus.select(
      explode(graft.functions.vectors.lsh_sign_buckets(col("emb"),
        AnnTables, AnnBits, Dim)).as("bkt"))
      .select(shiftright(col("bkt"), 24).as("tbl"), col("bkt"))
    val sizes = b.groupBy(col("tbl"), col("bkt"))
      .agg(count(lit(1)).as("sz"))
    sizes.groupBy(col("tbl"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("sz")).as("n_vectors"),
        max(col("sz")).as("max_bucket"),
        sum(col("sz") * col("sz")).as("sum_sq"))
      .orderBy(col("tbl"))
  }

  /** Twin: the same bucket replay as [[annLshTopkSql]], rolled up. */
  lazy val annLshStatsSql: String = {
    val nPlanes = AnnTables * AnnBits
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |             FROM embeddings),
       |q AS (SELECT vec_id, ${qSql("emb")} AS qv FROM emb),
       |pl AS (
       |  SELECT p, list(CASE WHEN strpos('0123456789abcdef',
       |        substr(md5('lsh:42:' || p || ':' || i), 1, 1)) - 1 >= 8
       |      THEN 1 ELSE -1 END ORDER BY i) AS s
       |  FROM range(0, $nPlanes) t(p), range(0, $Dim) u(i)
       |  GROUP BY p),
       |proj AS (
       |  SELECT vec_id, p // $AnnBits AS tbl, p % $AnnBits AS b,
       |    list_sum(list_transform(list_zip(s, qv), z -> z[1]*z[2])) >= 0
       |      AS sgn
       |  FROM q CROSS JOIN pl),
       |bks AS (
       |  SELECT vec_id, CAST(tbl AS BIGINT) AS tbl,
       |    (CAST(tbl AS BIGINT) << 24) |
       |      CAST(SUM(CASE WHEN sgn THEN (CAST(1 AS BIGINT) << b)
       |               ELSE 0 END) AS BIGINT) AS bkt
       |  FROM proj GROUP BY vec_id, tbl),
       |sizes AS (SELECT tbl, bkt, COUNT(*) AS sz FROM bks GROUP BY 1, 2)
       |SELECT tbl, COUNT(*) AS n_buckets,
       |  CAST(SUM(sz) AS BIGINT) AS n_vectors,
       |  MAX(sz) AS max_bucket,
       |  CAST(SUM(sz * sz) AS BIGINT) AS sum_sq
       |FROM sizes GROUP BY tbl ORDER BY tbl""".stripMargin
  }

  /** DuckDB twin for the LSH top-k (r13 — the third ANN rows-only →
    * oracle conversion): the ±1 hyperplanes are md5-derived (top bit of
    * md5("lsh:seed:p:i")) and the projections are exact integer dots on
    * the 1e-6 grid, so any engine rebuilds bit-identical bucket ids;
    * candidates = "shares ≥ 1 bucket", scores = the exact quantized
    * cosine — the approximate index's output is a deterministic
    * function of the base table, like C7b's. */
  lazy val annLshTopkSql: String = {
    val nPlanes = AnnTables * AnnBits
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |             FROM embeddings),
       |q AS (SELECT vec_id, ${qSql("emb")} AS qv FROM emb),
       |pl AS (
       |  SELECT p, list(CASE WHEN strpos('0123456789abcdef',
       |        substr(md5('lsh:42:' || p || ':' || i), 1, 1)) - 1 >= 8
       |      THEN 1 ELSE -1 END ORDER BY i) AS s
       |  FROM range(0, $nPlanes) t(p), range(0, $Dim) u(i)
       |  GROUP BY p),
       |proj AS (
       |  SELECT vec_id, p // $AnnBits AS tbl, p % $AnnBits AS b,
       |    list_sum(list_transform(list_zip(s, qv), z -> z[1]*z[2])) >= 0
       |      AS sgn
       |  FROM q CROSS JOIN pl),
       |bks AS (
       |  SELECT vec_id,
       |    (CAST(tbl AS BIGINT) << 24) |
       |      CAST(SUM(CASE WHEN sgn THEN (CAST(1 AS BIGINT) << b)
       |               ELSE 0 END) AS BIGINT) AS bkt
       |  FROM proj GROUP BY vec_id, tbl),
       |cand AS (
       |  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
       |  FROM bks cb JOIN bks qb ON cb.bkt = qb.bkt
       |  WHERE qb.vec_id % 50 = 0 AND cb.vec_id <> qb.vec_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    ${qcosSql("cq.qv", "qq.qv")} AS score
       |  FROM cand
       |  JOIN q cq ON cq.vec_id = cand.neighbor_id
       |  JOIN q qq ON qq.vec_id = cand.query_id)
       |SELECT query_id, neighbor_id, score,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |       ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin
  }

  // --- C7b: IVF-style top-k (rows-only; recall spec) ----------------------
  val IvfLists = 32
  val IvfProbes = 8

  def annIvfTopk(spark: SparkSession, dir: String): DataFrame = {
    val corpus = emb(spark, dir)
    Ann.ivfTopK(corpus, corpus.filter(col("vec_id") % 50 === 0),
        "vec_id", "emb", TopK, nLists = IvfLists, nProbe = IvfProbes)
      .orderBy(col("query_id"), col("rank"))
  }

  // --- C117: graph ANN (kNN graph + fixed-hop beam search) ----------------
  /** Graph out-degree, beam width, expansion hops, entry probes. Sized for
    * the shipped corpus (32 lists of ~15 members): two medoid entries +
    * 2 hops × beam 4 × degree 8 visits ~O(60) vertices per query — the
    * HNSW/DiskANN search shape with the iteration count FIXED so the
    * whole search is one deterministic (and SQL-replayable) plan. */
  val GraphM = 8
  val GraphBeam = 6
  val GraphHops = 3
  val GraphEntries = 2

  def annGraphTopk(spark: SparkSession, dir: String): DataFrame = {
    val corpus = emb(spark, dir)
    val idx = Ann.graphBuild(corpus, "vec_id", "emb", m = GraphM,
      nLists = IvfLists)
    Ann.graphTopK(idx, corpus, corpus.filter(col("vec_id") % 50 === 0),
        "vec_id", "emb", TopK, beam = GraphBeam, hops = GraphHops,
        entries = GraphEntries)
      .orderBy(col("query_id"), col("rank"))
  }

  /** C117b: the PERSISTED graph probed as a driver key — build once into
    * the deterministic scratch dir ([[GraphAnnIndex.ensure]], the
    * amortized half), beam-search the stored degree-M view (what a query
    * batch pays). Over a fresh index the stored frames are
    * [[Ann.graphBuildScored]]'s own — the same spelling the in-query key
    * runs — so the output is bit-identical to `ann_graph_topk` and the
    * key SHARES its DuckDB oracle. */
  def annGraphProbe(spark: SparkSession, dir: String): DataFrame = {
    val path = GraphAnnIndex.ensure(spark, dir)
    GraphAnnIndex.probe(spark, path,
        emb(spark, dir).filter(col("vec_id") % 50 === 0), "vec_id", "emb")
      .orderBy(col("query_id"), col("rank"))
  }

  /** DuckDB twin for the graph-ANN top-k (C117 — the fifth rows-only→
    * oracle ANN conversion the integer grid buys): the kNN-graph BUILD
    * (top-2 posting over the Lloyd centroids, per-bucket exact pairs,
    * per-vertex top-M edge cut with ties to the smaller id) and the
    * SEARCH (medoid entries, [[GraphHops]] unrolled beam expansions,
    * visited-set anti-joins) are both deterministic functions of the
    * base table, so the approximate index's output replays in SQL.
    * MATERIALIZED is load-bearing on m0/edges/visited (each referenced
    * twice or more downstream). */
  lazy val annGraphTopkSql: String = {
    val rounds = graft.operators.Ann.LloydIters
    val hopCtes = (1 to GraphHops).map { h =>
      s"""f$h AS (
         |  SELECT query_id, node FROM (
         |    SELECT query_id, node, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, node) AS rn
         |    FROM n${h - 1}) WHERE rn <= $GraphBeam),
         |cand$h AS (
         |  SELECT DISTINCT f.query_id, e.dst AS node
         |  FROM f$h f JOIN edges e ON e.src = f.node),
         |n$h AS MATERIALIZED (
         |  SELECT c.query_id, c.node, ${qcosSql("q.qv", "qs.qqv")} AS score
         |  FROM cand$h c JOIN q ON q.vec_id = c.node
         |  JOIN qs ON qs.query_id = c.query_id
         |  WHERE NOT EXISTS (SELECT 1 FROM v${h - 1} v
         |    WHERE v.query_id = c.query_id AND v.node = c.node)),
         |v$h AS MATERIALIZED (
         |  SELECT * FROM v${h - 1} UNION ALL SELECT * FROM n$h)""".stripMargin
    }.mkString(",\n")
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |             FROM embeddings),
       |$ivfLloydCtes,
       |qs AS (SELECT vec_id AS query_id, qv AS qqv FROM q
       |       WHERE vec_id % 50 = 0),
       |m0 AS MATERIALIZED (
       |  SELECT vec_id, qv, cid, sim,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, cid) AS rv
       |  FROM (SELECT q.vec_id, q.qv, c.cid,
       |    ${qcosSql("q.qv", "c.cq")} AS sim
       |    FROM q CROSS JOIN c$rounds c)),
       |med AS (
       |  SELECT cid, vec_id AS entry FROM (
       |    SELECT cid, vec_id, ROW_NUMBER() OVER (PARTITION BY cid
       |      ORDER BY sim DESC, vec_id) AS rc
       |    FROM m0 WHERE rv = 1) WHERE rc = 1),
       |pairs AS (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
       |    ${qcosSql("a.qv", "b.qv")} AS s
       |  FROM m0 a JOIN m0 b ON a.cid = b.cid AND a.vec_id <> b.vec_id
       |  WHERE a.rv <= ${graft.operators.Ann.GraphReplicas}
       |    AND b.rv <= ${graft.operators.Ann.GraphReplicas}),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY s DESC, dst) AS rn
       |    FROM pairs) WHERE rn <= $GraphM),
       |pr AS (
       |  SELECT query_id, cid FROM (
       |    SELECT query_id, cid, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, cid) AS rn
       |    FROM (SELECT qs.query_id, c.cid,
       |      ${qcosSql("qs.qqv", "c.cq")} AS sim
       |      FROM qs CROSS JOIN c$rounds c))
       |  WHERE rn <= $GraphEntries),
       |f0 AS (SELECT DISTINCT pr.query_id, med.entry AS node
       |       FROM pr JOIN med USING (cid)),
       |n0 AS MATERIALIZED (
       |  SELECT f.query_id, f.node, ${qcosSql("q.qv", "qs.qqv")} AS score
       |  FROM f0 f JOIN q ON q.vec_id = f.node
       |  JOIN qs ON qs.query_id = f.query_id),
       |v0 AS MATERIALIZED (SELECT * FROM n0),
       |$hopCtes
       |SELECT query_id, node AS neighbor_id, score,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |       ORDER BY score DESC, node) AS INT) AS rank
       |FROM v$GraphHops WHERE node <> query_id
       |QUALIFY rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin
  }

  // --- C50: IVF×PQ composed index (rows-only; recall spec) -----------------
  /** The composed billion-vector shape: coarse IVF routing + PQ codes over
    * RESIDUALS on the persisted partition-pruned index (see
    * [[Ann.ivfPqBuild]]/[[Ann.ivfPqTopK]]). The driver query builds the
    * index into a deterministic scratch dir and probes it — the build is
    * the amortized half, the probe is what a query batch pays. */
  /** Scratch-index layout version: bumped whenever [[Ann.ivfPqBuild]]'s
    * on-disk format changes (v2 added the refinement codebook + codes2),
    * so a stale index from an older layout is never adopted. */
  // v3 scratch key: v2 indexes cached in tmpdir predate the format marker,
  // so they must re-derive a fresh path rather than fail the marker check.
  // v4: integer-grid coarse centroids (oracle-replayable)
  val IvfPqIndexKind = "ivfpq5" // v5: integer-grid PQ codebooks too (r13 — the C46 oracle conversion changes every stored code, so a v4 index must never be adopted)

  def annIvfPqTopk(spark: SparkSession, dir: String): DataFrame = {
    val corpus = emb(spark, dir)
    val path = graft.sources.IndexScratch.path(IvfPqIndexKind, dir)
    graft.sources.IndexScratch.ensure(path)(p =>
      Ann.ivfPqBuild(corpus, "vec_id", "emb", Dim, nLists = IvfLists, p))
    Ann.ivfPqTopK(spark, path, corpus.filter(col("vec_id") % 50 === 0),
        "vec_id", "emb", Dim, TopK, nProbe = IvfProbes)
      .orderBy(col("query_id"), col("rank"))
  }

  // --- C58: IVF×PQ two-stage refine (rows-only; recall + fetch-cut spec) ---
  /** The SAME persisted index as C50, queried through the ADC+R re-rank
    * ([[Ann.ivfPqRefineTopK]]): coarse-ADC survivors are re-scored from
    * the stored 16-byte (codes, codes2) reconstruction, so the rows that
    * read a full vector drop from rerank×k=100 to refine×k=30 per query
    * — the exact-fetch cut that matters when the codes live in memory
    * and the vectors on remote storage. */
  def annIvfPqRefineTopk(spark: SparkSession, dir: String): DataFrame = {
    val corpus = emb(spark, dir)
    val path = graft.sources.IndexScratch.path(IvfPqIndexKind, dir)
    graft.sources.IndexScratch.ensure(path)(p =>
      Ann.ivfPqBuild(corpus, "vec_id", "emb", Dim, nLists = IvfLists, p))
    Ann.ivfPqRefineTopK(spark, path, corpus.filter(col("vec_id") % 50 === 0),
        "vec_id", "emb", Dim, TopK, nProbe = IvfProbes)
      .orderBy(col("query_id"), col("rank"))
  }

  // --- C46: PQ-compressed top-k (rows-only; recall spec) -------------------
  /** Asymmetric-distance PQ scan + exact re-rank (see [[Ann.pqTopK]]):
    * the corpus is scanned as 8-byte codes — 64× less memory/IO than raw
    * vectors — and only the approximate survivors fetch full vectors. */
  def annPqTopk(spark: SparkSession, dir: String): DataFrame = {
    val corpus = emb(spark, dir)
    Ann.pqTopK(corpus, corpus.filter(col("vec_id") % 50 === 0),
        "vec_id", "emb", Dim, TopK)
      .orderBy(col("query_id"), col("rank"))
  }

  // --- C18: per-label embedding statistics ---------------------------------
  /** Corpus statistics a curation pipeline reports per cluster/label:
    * vector count, exact quantized norm mass, norm range, and the
    * (unnormalized) centroid's quantized norm². All cross-row arithmetic is
    * integer/decimal-exact — order-independent under any partitioning and
    * bit-identical across engines; the only floats are per-row sqrt and the
    * final casts.
    *
    * Shuffle budget: one partial-agg shuffle for the scalar stats + one
    * (label, dim)-keyed shuffle for the centroid sums — the element-wise
    * vector-sum aggregation pattern at any scale. */
  def embedStats(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables(spark, dir).embeddings.select(col("label"),
      transform(col("embedding").cast("array<double>"),
        x => floor(x * 1e6).cast("long")).as("qv"))
    val perRow = q.select(col("label"),
      aggregate(col("qv"), lit(0L), (acc, x) => acc + x * x).as("qn2"))
    val scalar = perRow.groupBy(col("label")).agg(
      count(lit(1)).as("n_vectors"),
      sum(col("qn2")).as("sum_q_norm2"),
      min(sqrt(col("qn2").cast("double")) / 1e6).as("min_norm"),
      max(sqrt(col("qn2").cast("double")) / 1e6).as("max_norm"))
    val centroid = q.select(col("label"), posexplode(col("qv")))
      .groupBy(col("label"), col("pos")).agg(sum(col("col")).as("sq"))
      .groupBy(col("label")).agg(
        sum(col("sq").cast("decimal(38,0)") * col("sq").cast("decimal(38,0)"))
          .cast("double").as("centroid_norm2_q"))
    scalar.join(centroid, "label").orderBy(col("label"))
  }

  val embedStatsSql: String =
    """WITH q AS (
      |  SELECT label,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |                   x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS qv
      |  FROM embeddings
      |), pr AS (
      |  SELECT label, CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qn2
      |  FROM q
      |), s1 AS (
      |  SELECT label, COUNT(*) AS n_vectors, CAST(SUM(qn2) AS BIGINT) AS sum_q_norm2,
      |    MIN(sqrt(CAST(qn2 AS DOUBLE)) / 1000000.0) AS min_norm,
      |    MAX(sqrt(CAST(qn2 AS DOUBLE)) / 1000000.0) AS max_norm
      |  FROM pr GROUP BY 1
      |), d AS (
      |  SELECT label, i, SUM(qv[i]) AS sq
      |  FROM q, range(1, 65) t(i) GROUP BY 1, 2
      |), c AS (
      |  SELECT label, CAST(SUM(sq::HUGEINT * sq::HUGEINT) AS DOUBLE) AS centroid_norm2_q
      |  FROM d GROUP BY 1
      |)
      |SELECT s1.label, n_vectors, sum_q_norm2, min_norm, max_norm, centroid_norm2_q
      |FROM s1 JOIN c ON s1.label = c.label ORDER BY 1""".stripMargin

  // --- C68: IVF index health audit (rows-only; invariant spec) --------------
  /** Per-list occupancy of the persisted IVF×PQ index — the skew number an
    * ANN ops team watches: probe latency is gated by the LARGEST probed
    * list, so a hot list (load_factor ≫ 1) means re-train the coarse
    * quantizer or split the list. Reads only the `list_id=` directory
    * footers' row groups — O(index), never the vector payloads; rows-only
    * like the rest of the ANN family (occupancy depends on index
    * parameters), pinned by the partition/totals spec. */
  /** DuckDB twin for the occupancy board (r12 next-round #8 — the first
    * of the ANN rows-only set converted to a hash-checked oracle): the
    * coarse quantizer is fully deterministic integer arithmetic on the
    * 1e-6 grid (md5-ordered seeds + sample, [[Ann.LloydIters]] Lloyd
    * rounds with integer floor-mean updates, pre-quantized integer
    * cosine with ties to the smaller centroid id), so the oracle replays
    * seeds → rounds → the full-corpus assignment → per-list counts from
    * the base table alone. The persisted index's `lists/` layout must
    * land exactly this assignment or the hash gate fails. */
  private def ivfAssignCte(n: Int, src: String, prev: String,
      idC: String) =
    s"""a$n AS (
       |  SELECT $idC, qv, cid FROM (
       |    SELECT $idC, qv, cid,
       |      ROW_NUMBER() OVER (PARTITION BY $idC
       |        ORDER BY sim DESC, cid) AS rn
       |    FROM (SELECT s.$idC, s.qv, c.cid,
       |      ${qcosSql("s.qv", "c.cq")} AS sim
       |      FROM $src s CROSS JOIN $prev c))
       |  WHERE rn = 1)""".stripMargin

  /** Seeds → sample → [[graft.operators.Ann.LloydIters]] Lloyd rounds on
    * the 1e-6 integer grid — the DuckDB replay of `Ann.centroids`,
    * shared by the C68 occupancy oracle and the C7b top-k oracle. Ends
    * with the final centroid CTE `c<rounds>`. */
  private lazy val ivfLloydCtes: String = {
    val k = IvfLists
    val sampleN = k * graft.operators.Ann.LloydSampleFactor
    val rounds = graft.operators.Ann.LloydIters
    def update(n: Int) =
      s"""c$n AS (
         |  SELECT cid, list(m ORDER BY d) AS cq FROM (
         |    SELECT cid, i AS d,
         |      CAST(floor(CAST(SUM(qv[i]) AS DOUBLE) / COUNT(*)) AS BIGINT)
         |        AS m
         |    FROM a$n, range(1, ${Dim + 1}) t(i) GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    val lloyd = (1 to rounds).map(i =>
      ivfAssignCte(i, "s", if (i == 1) "c0" else s"c${i - 1}", "sid") +
        ",\n" + update(i)).mkString(",\n")
    s"""q AS (SELECT vec_id, ${qSql("emb")} AS qv FROM emb),
       |h AS (SELECT vec_id, qv, md5(CAST(vec_id AS VARCHAR)) AS hh FROM q),
       |c0 AS (SELECT vec_id AS cid, qv AS cq FROM h ORDER BY hh LIMIT $k),
       |s AS (SELECT vec_id AS sid, qv FROM h ORDER BY hh LIMIT $sampleN),
       |$lloyd""".stripMargin
  }

  lazy val annIvfStatsSql: String = {
    val rounds = graft.operators.Ann.LloydIters
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |             FROM embeddings),
       |$ivfLloydCtes,
       |${ivfAssignCte(rounds + 1, "q", s"c$rounds", "vec_id")},
       |per AS (SELECT cid AS list_id, COUNT(*) AS n_vectors
       |        FROM a${rounds + 1} GROUP BY 1),
       |tot AS (SELECT SUM(n_vectors) AS total, COUNT(*) AS n_lists FROM per)
       |SELECT list_id, n_vectors,
       |  CAST(n_vectors AS DOUBLE) * n_lists / CAST(total AS DOUBLE)
       |    AS load_factor
       |FROM per, tot ORDER BY list_id""".stripMargin
  }

  /** DuckDB twin for the IVF top-k itself (C7b rows-only → oracle, the
    * second conversion the integer-grid quantizer buys): the probe
    * ranks all centroids per query (top-nProbe, ties to the smaller
    * cid), candidates are the probed lists' members under the SAME
    * full-corpus assignment the stats oracle replays, and the final
    * score is the exact quantized cosine (identical integers both
    * sides) — so the approximate index's output is itself a
    * deterministic function of the base table. */
  lazy val annIvfTopkSql: String = {
    val rounds = graft.operators.Ann.LloydIters
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |             FROM embeddings),
       |$ivfLloydCtes,
       |${ivfAssignCte(rounds + 1, "q", s"c$rounds", "vec_id")},
       |pr AS (
       |  SELECT query_id, qqv, cid FROM (
       |    SELECT query_id, qqv, cid,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, cid) AS rn
       |    FROM (SELECT q.vec_id AS query_id, q.qv AS qqv, c.cid,
       |      ${qcosSql("q.qv", "c.cq")} AS sim
       |      FROM q CROSS JOIN c$rounds c
       |      WHERE q.vec_id % 50 = 0))
       |  WHERE rn <= $IvfProbes),
       |scored AS (
       |  SELECT pr.query_id, fa.vec_id AS neighbor_id,
       |    ${qcosSql("fa.qv", "pr.qqv")} AS score
       |  FROM pr JOIN a${rounds + 1} fa USING (cid)
       |  WHERE fa.vec_id <> pr.query_id)
       |SELECT query_id, neighbor_id, score,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |       ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB twin for the PQ top-k (C46 rows-only → oracle, the fourth
    * ANN conversion): with the r13 integer-grid codebooks the ENTIRE
    * index is a deterministic function of the base table — the
    * hash-ordered sample, the per-subspace Lloyd runs (exact integer L2,
    * trunc-toward-zero means == `//`), the corpus encode (ties to the
    * lower code — PqEncode's rule), the ADC lookup-sums (exact BIGINTs;
    * Spark ranks their double images, identical order below 2^53), the
    * (approx desc, id asc) rerank heap, and the exact quantized-cosine
    * final ranking all replay in SQL. MATERIALIZED is load-bearing on
    * the round CTEs (each is referenced twice downstream). */
  /** Integer L2 between two BIGINT lists (the PqEncode distance). */
  private def l2Sql(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), z -> (z[1]-z[2])*(z[1]-z[2])))"

  /** The PQ per-subspace Lloyd replay: given CTEs `${p}samp` (qv list +
    * hash-order rn) — seeds, subspace slices, and
    * [[graft.operators.Ann.PqLloydIters]] assign/update rounds on the
    * 1e-6 integer grid, ending in the final codebook CTE
    * `${p}c<iters>` (m, code, cw) and the slice CTE `${p}sub`.
    * MATERIALIZED is load-bearing: each round is referenced twice. */
  private def pqLloydCtes(p: String, vecCol: String): String = {
    import graft.operators.Ann.{PqM, PqKs, PqLloydIters}
    val sd = Dim / PqM
    val rounds = (1 to PqLloydIters).map { r =>
      s"""${p}a$r AS MATERIALIZED (
         |  SELECT rn, m, sv, code FROM (
         |    SELECT s.rn, s.m, s.sv, c.code,
         |      ROW_NUMBER() OVER (PARTITION BY s.rn, s.m
         |        ORDER BY ${l2Sql("s.sv", "c.cw")}, c.code) AS k
         |    FROM ${p}sub s JOIN ${p}c${r - 1} c ON c.m = s.m)
         |  WHERE k = 1),
         |${p}c$r AS MATERIALIZED (
         |  SELECT p.m, p.code, COALESCE(u.cw, p.cw) AS cw
         |  FROM ${p}c${r - 1} p LEFT JOIN (
         |    SELECT m, code, list(s // n ORDER BY i) AS cw FROM (
         |      SELECT a.m, a.code, d.i, SUM(a.sv[d.i + 1]) AS s,
         |        COUNT(*) AS n
         |      FROM ${p}a$r a, range(0, $sd) d(i)
         |      GROUP BY 1, 2, 3)
         |    GROUP BY 1, 2) u ON u.m = p.m AND u.code = p.code)""".stripMargin
    }.mkString(",\n")
    s"""${p}sub AS MATERIALIZED (
       |  SELECT rn, t.m, $vecCol[t.m * $sd + 1 : t.m * $sd + $sd] AS sv
       |  FROM ${p}samp, range(0, $PqM) t(m)),
       |${p}c0 AS MATERIALIZED (
       |  SELECT m, rn - 1 AS code, sv AS cw FROM ${p}sub WHERE rn <= $PqKs),
       |$rounds""".stripMargin
  }

  /** The argmin encode of a (id, m, sv) slice CTE against a final
    * codebook CTE — PqEncode's ties-to-lower-code rule. */
  private def pqEncodeCte(name: String, srcSub: String, books: String,
      idC: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT $idC, m, code FROM (
       |    SELECT s.$idC, s.m, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY s.$idC, s.m
       |        ORDER BY ${l2Sql("s.sv", "c.cw")}, c.code) AS k
       |    FROM $srcSub s JOIN $books c ON c.m = s.m)
       |  WHERE k = 1)""".stripMargin

  lazy val annPqTopkSql: String = {
    import graft.operators.Ann.{PqM, PqKs, PqSampleFactor, PqLloydIters}
    val sd = Dim / PqM
    val sampleN = PqKs * PqSampleFactor
    val rerankN = 10 * TopK
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |             FROM embeddings),
       |q AS MATERIALIZED (SELECT vec_id, ${qSql("emb")} AS qv FROM emb),
       |psamp AS MATERIALIZED (
       |  SELECT qv, ROW_NUMBER() OVER (
       |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM q QUALIFY rn <= $sampleN),
       |${pqLloydCtes("p", "qv")},
       |csub AS MATERIALIZED (
       |  SELECT vec_id, t.m, qv[t.m * $sd + 1 : t.m * $sd + $sd] AS sv
       |  FROM q, range(0, $PqM) t(m)),
       |${pqEncodeCte("enc", "csub", s"pc$PqLloydIters", "vec_id")},
       |tbl AS MATERIALIZED (
       |  SELECT s.vec_id AS query_id, s.m, c.code,
       |    list_sum(list_transform(list_zip(s.sv, c.cw), z -> z[1]*z[2]))
       |      AS w
       |  FROM csub s JOIN pc$PqLloydIters c ON c.m = s.m
       |  WHERE s.vec_id % 50 = 0),
       |approx AS MATERIALIZED (
       |  SELECT t.query_id, e.vec_id AS neighbor_id,
       |    CAST(SUM(t.w) AS BIGINT) AS approx
       |  FROM enc e JOIN tbl t ON t.m = e.m AND t.code = e.code
       |  WHERE e.vec_id <> t.query_id
       |  GROUP BY 1, 2),
       |surv AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY approx DESC, neighbor_id) AS k
       |    FROM approx)
       |  WHERE k <= $rerankN),
       |scored AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    ${qcosSql("eq.qv", "qq.qv")} AS score
       |  FROM surv s JOIN q eq ON eq.vec_id = s.neighbor_id
       |  JOIN q qq ON qq.vec_id = s.query_id)
       |SELECT query_id, neighbor_id, score,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |       ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB twin for the composed IVF×PQ top-k (C50 rows-only → oracle,
    * the fifth ANN conversion): coarse Lloyd + full-corpus assignment
    * replay as in C7b; residuals are IEEE doubles off the integer-grid
    * centroids (deterministic: `x − cq/1e6`, then the same
    * `floor(r·1e6)` quantization PqEncode applies); the residual PQ
    * books train through the shared [[pqLloydCtes]] replay; scoring
    * decomposes as `<q,x> ≈ <q,c> + Σ_m <q_m, cw_m>` with the per-
    * (query, probed-list) constant making scores comparable across
    * lists — exact BIGINTs ranked in the same (approx desc, id asc)
    * order as the heap's double images; the exact quantized-cosine tail
    * decides the final top-k. */
  private def intDotSql(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), z -> z[1]*z[2]))"

  /** Exact-cosine rank CTE over a `surv(query_id, neighbor_id)` CTE —
    * shared by every IVF×PQ twin's final ranking. The query side scores
    * against `qsel.qqv` so probe-shaped query sets (C70b's anchors)
    * reuse it. Ends in `ranked(query_id, neighbor_id, score, rank)`. */
  private def exactRankCtes(k: Int): String =
    s"""xscored AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    ${qcosSql("eq.qv", "qq.qqv")} AS score
       |  FROM surv s JOIN q eq ON eq.vec_id = s.neighbor_id
       |  JOIN qsel qq ON qq.query_id = s.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |  FROM xscored
       |  QUALIFY rank <= $k)""".stripMargin

  private val exactRankSelect =
    "SELECT query_id, neighbor_id, score, rank FROM ranked " +
      "ORDER BY query_id, rank"

  /** Shared C50/C58 replay prefix: coarse Lloyd + full-corpus assignment,
    * residuals (raw IEEE doubles `rd` + the floor-quantized `rv`),
    * stage-1 residual codebooks + corpus encode, probes, the per-
    * (query, list) `<q,c>` constants, the stage-1 ADC tables, and the
    * stage-1 `approx` scores over the probed lists. */
  private def ivfPqCommonCtes(qselBody: String): String = {
    import graft.operators.Ann.{PqM, PqKs, PqSampleFactor, PqLloydIters}
    val sd = Dim / PqM
    val sampleN = PqKs * PqSampleFactor
    val rounds = graft.operators.Ann.LloydIters
    s"""emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |             FROM embeddings),
       |$ivfLloydCtes,
       |${ivfAssignCte(rounds + 1, "q", s"c$rounds", "vec_id")},
       |res AS MATERIALIZED (
       |  SELECT a.vec_id, a.cid,
       |    list_transform(range(1, ${Dim + 1}), i ->
       |      e.emb[CAST(i AS INT)]
       |        - CAST(c.cq[CAST(i AS INT)] AS DOUBLE) / 1000000.0) AS rd,
       |    list_transform(range(1, ${Dim + 1}), i ->
       |      CAST(floor((e.emb[CAST(i AS INT)]
       |        - CAST(c.cq[CAST(i AS INT)] AS DOUBLE) / 1000000.0)
       |        * 1000000.0) AS BIGINT)) AS rv
       |  FROM a${rounds + 1} a JOIN emb e ON e.vec_id = a.vec_id
       |  JOIN c$rounds c ON c.cid = a.cid),
       |psamp AS MATERIALIZED (
       |  SELECT rv AS qv, ROW_NUMBER() OVER (
       |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM res QUALIFY rn <= $sampleN),
       |${pqLloydCtes("p", "qv")},
       |rsub AS MATERIALIZED (
       |  SELECT vec_id, t.m, rv[t.m * $sd + 1 : t.m * $sd + $sd] AS sv
       |  FROM res, range(0, $PqM) t(m)),
       |${pqEncodeCte("enc", "rsub", s"pc$PqLloydIters", "vec_id")},
       |qsel AS MATERIALIZED ($qselBody),
       |pr AS MATERIALIZED (
       |  SELECT query_id, qqv, excl, cid FROM (
       |    SELECT query_id, qqv, excl, cid,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, cid) AS rn
       |    FROM (SELECT q.query_id, q.qqv, q.excl, c.cid,
       |      ${qcosSql("q.qqv", "c.cq")} AS sim
       |      FROM qsel q CROSS JOIN c$rounds c))
       |  WHERE rn <= $IvfProbes),
       |qc AS MATERIALIZED (
       |  SELECT p.query_id, p.cid,
       |    ${intDotSql("p.qqv", "c.cq")} AS qc
       |  FROM pr p JOIN c$rounds c ON c.cid = p.cid),
       |tbl AS MATERIALIZED (
       |  SELECT qq.query_id, c.m, c.code,
       |    ${intDotSql(s"qq.qqv[c.m * $sd + 1 : c.m * $sd + $sd]", "c.cw")}
       |      AS w
       |  FROM qsel qq CROSS JOIN pc$PqLloydIters c),
       |approx AS MATERIALIZED (
       |  SELECT p.query_id, r.vec_id AS neighbor_id, p.cid,
       |    CAST(MIN(q2.qc) + SUM(t.w) AS BIGINT) AS approx
       |  FROM pr p JOIN res r ON r.cid = p.cid
       |  JOIN enc e ON e.vec_id = r.vec_id
       |  JOIN tbl t ON t.query_id = p.query_id AND t.m = e.m
       |    AND t.code = e.code
       |  JOIN qc q2 ON q2.query_id = p.query_id AND q2.cid = p.cid
       |  WHERE r.vec_id <> COALESCE(p.excl, ${Long.MinValue})
       |  GROUP BY p.query_id, r.vec_id, p.cid)""".stripMargin
  }

  /** The driver keys' query set: every 50th vector, keyed by its own id;
    * `excl` is the ranker's `neighbor <> query` self-exclusion target —
    * NULL for probe-shaped query sets whose ids are not vec_ids (C70b's
    * negative anchor ordinals never match a corpus id, so their replay
    * excludes nothing here and drops the anchor explicitly later). */
  private val ivfPqDriverQsel =
    "SELECT vec_id AS query_id, qv AS qqv, vec_id AS excl FROM q " +
      "WHERE vec_id % 50 = 0"

  lazy val annIvfPqTopkSql: String = {
    val rerankN = 10 * TopK
    s"""WITH ${ivfPqCommonCtes(ivfPqDriverQsel)},
       |surv AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY approx DESC, neighbor_id) AS k
       |    FROM approx)
       |  WHERE k <= $rerankN),
       |${exactRankCtes(TopK)}
       |$exactRankSelect""".stripMargin
  }

  /** DuckDB twin for the two-stage ADC+R refine (C58 rows-only → oracle,
    * the sixth ANN conversion): stage 1 is C50's coarse `approx` with the
    * same rerank×k margin; the refinement codebooks train on the
    * residual-of-residual `r₂ = r − cw₁/1e6` (IEEE doubles off the
    * integer-grid stage-1 codewords, then the same floor quantization);
    * stage-2 re-scores survivors by `<q,c> + Σ<q,cw₁> + Σ<q,cw₂>` from
    * the stored codes only, keeps refine×k, and the exact tail ranks. */
  /** The ADC+R stage-2 chain over the common CTEs: refinement books,
    * stage-1 survivors at `rerankN`, the `<q,c>+Σ<q,cw₁>+Σ<q,cw₂>`
    * re-score, and the `refineN` cut — ends in
    * `surv(query_id, neighbor_id)`. */
  private def ivfPqRefineChain(rerankN: Int, refineN: Int): String = {
    import graft.operators.Ann.{PqM, PqKs, PqSampleFactor, PqLloydIters}
    val sd = Dim / PqM
    val sampleN = PqKs * PqSampleFactor
    s"""r2sub AS MATERIALIZED (
       |  SELECT r.vec_id, e.m,
       |    list_transform(range(1, ${sd + 1}), j ->
       |      CAST(floor((r.rd[e.m * $sd + CAST(j AS INT)]
       |        - CAST(c.cw[CAST(j AS INT)] AS DOUBLE) / 1000000.0)
       |        * 1000000.0) AS BIGINT)) AS sv
       |  FROM res r JOIN enc e ON e.vec_id = r.vec_id
       |  JOIN pc$PqLloydIters c ON c.m = e.m AND c.code = e.code),
       |p2samp AS MATERIALIZED (
       |  SELECT qv, ROW_NUMBER() OVER (
       |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM (SELECT vec_id, flatten(list(sv ORDER BY m)) AS qv
       |        FROM r2sub GROUP BY vec_id)
       |  QUALIFY rn <= $sampleN),
       |${pqLloydCtes("p2", "qv")},
       |${pqEncodeCte("enc2", "r2sub", s"p2c$PqLloydIters", "vec_id")},
       |tbl2 AS MATERIALIZED (
       |  SELECT qq.query_id, c.m, c.code,
       |    ${intDotSql(s"qq.qqv[c.m * $sd + 1 : c.m * $sd + $sd]", "c.cw")}
       |      AS w
       |  FROM qsel qq CROSS JOIN p2c$PqLloydIters c),
       |surv1 AS (
       |  SELECT query_id, neighbor_id, cid FROM (
       |    SELECT query_id, neighbor_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY approx DESC, neighbor_id) AS k
       |    FROM approx)
       |  WHERE k <= $rerankN),
       |refined AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    CAST(MIN(q2.qc) + SUM(t1.w + t2.w) AS BIGINT) AS refined
       |  FROM surv1 s
       |  JOIN enc e1 ON e1.vec_id = s.neighbor_id
       |  JOIN tbl t1 ON t1.query_id = s.query_id AND t1.m = e1.m
       |    AND t1.code = e1.code
       |  JOIN enc2 e2 ON e2.vec_id = s.neighbor_id AND e2.m = e1.m
       |  JOIN tbl2 t2 ON t2.query_id = s.query_id AND t2.m = e2.m
       |    AND t2.code = e2.code
       |  JOIN qc q2 ON q2.query_id = s.query_id AND q2.cid = s.cid
       |  GROUP BY s.query_id, s.neighbor_id),
       |surv AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY refined DESC, neighbor_id) AS k
       |    FROM refined)
       |  WHERE k <= $refineN)""".stripMargin
  }

  lazy val annIvfPqRefineSql: String =
    s"""WITH ${ivfPqCommonCtes(ivfPqDriverQsel)},
       |${ivfPqRefineChain(10 * TopK, 3 * TopK)},
       |${exactRankCtes(TopK)}
       |$exactRankSelect""".stripMargin

  /** DuckDB twin for the index-probed hybrid (C70b rows-only → oracle,
    * the SEVENTH and final ANN conversion): the lexical side is C70's
    * BM25 replay, the anchors (each query's top-1 lexical hit) become
    * the probe query set through the SAME composed-index replay as C58
    * (k+1 margins — excluding the anchor from its own candidates must
    * still leave k), and the fused board rides C70's RRF spelling. */
  lazy val annHybridProbeSql: String = {
    val k = HybridK
    val anchorQsel =
      """SELECT b.query_id, qv.qv AS qqv, CAST(NULL AS BIGINT) AS excl
        |   FROM bm25ranked b JOIN q qv ON qv.vec_id = b.doc_id
        |   WHERE b.rank = 1""".stripMargin
    s"""WITH ${CorpusOps.bm25Ctes},
       |${ivfPqCommonCtes(anchorQsel)},
       |${ivfPqRefineChain(10 * (k + 1), 3 * (k + 1))},
       |${exactRankCtes(k + 1)},
       |anch AS (SELECT b.query_id, b.doc_id AS anchor_id
       |         FROM bm25ranked b WHERE b.rank = 1),
       |semr AS (
       |  SELECT query_id, neighbor_id AS doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY score DESC, neighbor_id) AS INT) AS sem_rank
       |  FROM ranked JOIN anch USING (query_id)
       |  WHERE neighbor_id <> anchor_id
       |  QUALIFY sem_rank <= $k),
       |lexr AS (SELECT query_id, doc_id, rank AS lex_rank FROM bm25ranked),
       |fused AS (
       |  SELECT query_id, doc_id, lex_rank, sem_rank,
       |    COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + lex_rank), CAST(0.0 AS DOUBLE))
       |      + COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + sem_rank), CAST(0.0 AS DOUBLE))
       |      AS rrf_score
       |  FROM lexr FULL JOIN semr USING (query_id, doc_id))
       |SELECT query_id, doc_id, lex_rank, sem_rank, rrf_score,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |       ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
       |FROM fused
       |QUALIFY rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  def annIvfStats(spark: SparkSession, dir: String): DataFrame = {
    val corpus = emb(spark, dir)
    val path = graft.sources.IndexScratch.path(IvfPqIndexKind, dir)
    graft.sources.IndexScratch.ensure(path)(p =>
      Ann.ivfPqBuild(corpus, "vec_id", "emb", Dim, nLists = IvfLists, p))
    // partition-column inference narrows list_id to INT on read — pin LONG
    val per = spark.read.parquet(s"$path/lists")
      .groupBy(col("list_id").cast("long").as("list_id"))
      .agg(count(lit(1)).as("n_vectors"))
    val tot = per.agg(sum(col("n_vectors")).as("total"),
      count(lit(1)).as("n_lists"))
    per.crossJoin(broadcast(tot))
      .select(col("list_id"), col("n_vectors"),
        (col("n_vectors").cast("double") * col("n_lists") /
          col("total").cast("double")).as("load_factor"))
      .orderBy(col("list_id"))
  }

  // --- C64: exact-integer PCA projection (embedding drift axis) -------------
  val PcaDim = 64
  /** Input quantization grid (1e-3 units) — the operator is DEFINED on the
    * quantized embedding, trading 3 decimal digits of fidelity for exact
    * cross-engine arithmetic (the QuantizedCosine discipline). */
  val PcaQ = 1000L
  /** Iteration-vector fixed-point grid (the max component is renormalized
    * to exactly this every round). */
  val PcaVQ = 1000000L
  val PcaIters = 12

  /** Top-principal-component projection of the embedding set — the drift /
    * whitening axis an embedding-QA pipeline monitors (a feed whose pc1
    * distribution shifts is re-embedded or quarantined).
    *
    * Exactness: the Gram matrix Σqqᵀ accumulates in exact 64-bit integers
    * via the [[graft.functions.GramMatrix]] aggregate (order-free under any
    * partitioning); the power iteration runs DRIVER-SIDE over BigInt with a
    * fixed-point renorm `v' = trunc(u·VQ / max|u|)` (truncation toward
    * zero — DuckDB's `//` semantics, replayed by the oracle's unrolled
    * iteration CTEs over HUGEINT); the projection is an exact integer dot
    * with the broadcast v literal. No float enters until the final display
    * division, so the whole pipeline is hash-exact.
    *
    * Scale shape: ONE corpus pass / partial agg for the d²-long Gram buffer
    * (32 KiB at d=64, independent of row count), O(d²·iters) driver work,
    * then a pure map projection pass — the corpus never shuffles. */
  /** The 1e-3-quantized embedding column. */
  private def pcaQuantized(embCol: String) =
    transform(col(embCol).cast("array<double>"),
      x => floor(x * PcaQ.toDouble).cast("long"))

  /** OFFLINE training half: one Gram pass + the BigInt power iteration →
    * the fixed-point axis. The returned v is a 64-long literal, so it
    * rides into ANY plan — including a streaming one (B56's deploy shape:
    * train the axis on the corpus snapshot, monitor the live feed). */
  def embedPcaAxis(embs: DataFrame, idCol: String, embCol: String,
      dim: Int): Array[Long] = {
    val g = embs.select(pcaQuantized(embCol).as("q"))
      .agg(graft.functions.vectors.gram_matrix(col("q"), dim).as("g"))
      .head().getSeq[Long](0).toArray
    var v = Array.fill(dim)(BigInt(PcaVQ))
    for (_ <- 1 to PcaIters) {
      val u = Array.tabulate(dim) { i =>
        var s = BigInt(0)
        var j = 0
        while (j < dim) { s += BigInt(g(i * dim + j)) * v(j); j += 1 }
        s
      }
      val m = u.map(_.abs).max.max(BigInt(1))
      v = u.map(x => x * PcaVQ / m) // BigInt / truncates toward zero, like //
    }
    v.map(_.toLong)
  }

  /** Scoring half: exact integer projection against the trained axis — a
    * stateless map stage, so it applies to batch and streaming frames
    * alike. No ordering imposed (streams cannot sort). */
  def embedPcaProjectWith(v: Array[Long], embs: DataFrame, idCol: String,
      embCol: String): DataFrame =
    embs.select(col(idCol).as("vec_id"),
        graft.functions.vectors.dot_with_lit(
          pcaQuantized(embCol), v.toIndexedSeq).as("pc1_q"))
      .select(col("vec_id"), col("pc1_q"),
        (col("pc1_q").cast("double") / lit((PcaQ * PcaVQ).toDouble))
          .as("pc1"))

  def embedPcaOn(embs: DataFrame, idCol: String, embCol: String,
      dim: Int): DataFrame =
    embedPcaProjectWith(embedPcaAxis(embs, idCol, embCol, dim),
      embs, idCol, embCol).orderBy(col("vec_id"))

  def embedPca(spark: SparkSession, dir: String): DataFrame =
    embedPcaOn(Tables(spark, dir).embeddings, "vec_id", "embedding", PcaDim)

  /** Twin: Gram matrix as an unnest-join aggregation, then the SAME power
    * iteration UNROLLED to [[PcaIters]] CTE rounds over HUGEINT (128-bit
    * exact, `//` truncation = BigInt division), then the same integer
    * projection — generated from the constants so oracle and engine cannot
    * desync. */
  val embedPcaSql: String = {
    val d = PcaDim
    val iters = (1 to PcaIters).map { k =>
      s"""u$k AS MATERIALIZED (
         |  SELECT g.i AS i, SUM(CAST(g.g AS HUGEINT) * v${k - 1}.x) AS s
         |  FROM gm g JOIN v${k - 1} ON g.j = v${k - 1}.i GROUP BY 1
         |), m$k AS MATERIALIZED (SELECT GREATEST(MAX(ABS(s)), 1) AS m FROM u$k),
         |v$k AS MATERIALIZED (
         |  SELECT i, (s * $PcaVQ) // m AS x FROM u$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH qe AS MATERIALIZED (
       |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
       |    x -> CAST(floor(x * $PcaQ.0) AS BIGINT)) AS q
       |  FROM embeddings
       |), gm AS MATERIALIZED (
       |  SELECT i, j, CAST(SUM(q[i + 1] * q[j + 1]) AS HUGEINT) AS g
       |  FROM qe, range(0, $d) ti(i), range(0, $d) tj(j) GROUP BY 1, 2
       |), v0 AS MATERIALIZED (
       |  SELECT i, CAST($PcaVQ AS HUGEINT) AS x FROM range(0, $d) t(i)),
       |$iters,
       |vf AS (SELECT list(CAST(x AS BIGINT) ORDER BY i) AS v FROM v$PcaIters)
       |SELECT vec_id,
       |  CAST(list_sum(list_transform(range(0, $d), k -> q[k + 1] * v[k + 1]))
       |       AS BIGINT) AS pc1_q,
       |  CAST(CAST(list_sum(list_transform(range(0, $d), k -> q[k + 1] * v[k + 1]))
       |       AS BIGINT) AS DOUBLE) / ${PcaQ * PcaVQ}.0 AS pc1
       |FROM qe, vf ORDER BY vec_id""".stripMargin
  }

  // --- C28: deterministic k-means corpus clustering ------------------------
  val KmeansK = 8
  val KmeansRounds = 2

  private def quantizeLocal(v: Seq[Double]): Array[Long] =
    v.map(x => math.floor(x * 1e6).toLong).toArray

  /** For each row of an `emb`-carrying frame: the (dist, cid) of its
    * nearest centroid — fully map-side (the centroid set rides along as
    * literals). Two physical forms with IDENTICAL semantics (argmin by
    * (dist, cid) — centroids are cid-sorted, so [[graft.functions.PqEncode]]'s
    * ties-to-lower-code IS the (dist, cid) tie-break the oracle mirrors):
    *  - small k: `least` over per-centroid (dist, cid) structs — compact
    *    codegen, one distance loop inlined per centroid;
    *  - large k: the argmin loops INSIDE one codegen expression
    *    (`pq_encode` with m = 1) over the flat centroid literal — the
    *    inlined-struct form explodes Janino compile time past a few dozen
    *    centroids (observed minutes at k ≈ 200). */
  private[operators] def nearestCentroidSmall(
      cents: Seq[(Long, Array[Long])]): Column = {
    val packed = cents.map { case (cid, q) =>
      struct(quantized_l2sq(col("emb"), typedLit(q.toSeq)).as("dist"),
        lit(cid).as("cid"))
    }
    if (packed.size == 1) packed.head else least(packed: _*)
  }

  private[operators] def nearestCentroidLarge(
      cents: Seq[(Long, Array[Long])]): Column = {
    val flat = cents.flatMap(_._2.toSeq)
    val code = element_at(
      pq_encode(col("emb"), typedLit(flat), 1, cents.size), 1)
    val cw = element_at(typedLit(cents.map(_._2.toSeq)), code + 1)
    struct(quantized_l2sq(col("emb"), cw).as("dist"),
      element_at(typedLit(cents.map(_._1)), code + 1).as("cid"))
  }

  private def nearestCentroid(cents: Seq[(Long, Array[Long])]): Column =
    if (cents.size <= 16) nearestCentroidSmall(cents)
    else nearestCentroidLarge(cents)

  /** Deterministic Lloyd k-means over the embeddings corpus — the corpus
    * clustering step of a curation pipeline (domain discovery, data
    * mixing, curriculum buckets). No RNG anywhere: seeds are the
    * [[KmeansK]] smallest `(md5(vec_id), vec_id)` rows (content-hash
    * spread), distances are exact integers over `floor(x*1e6)` quantized
    * elements, and centroid updates round per-dimension means with
    * mathematically exact `floor(sum/count)` — so the final assignment is
    * bit-identical in any engine and under any partitioning, and the DuckDB
    * twin replays the whole iteration.
    *
    * Scale shape (100 TB): each round is ONE corpus map pass (centroids are
    * k×dim literals — the broadcast analog; assignment never shuffles) plus
    * a (cid, dim)-keyed partial aggregation whose shuffle carries
    * O(k × dim) rows; the tiny per-round centroid collect is the same
    * driver-side step `ivfBuild` uses. Rounds are fixed ([[KmeansRounds]]),
    * so the job is a known, bounded DAG. Empty clusters drop (standard
    * Lloyd collapse) — deterministically in both engines. */
  def kmeansOn(corpusIn: DataFrame, idCol: String, embCol: String,
      k: Int, rounds: Int, dim: Int = Dim): DataFrame = {
    val corpus = corpusIn.select(col(idCol).as("vec_id"), col(embCol).as("emb"))
    kmeansAssignWith(lloydCentroids(corpus, k, rounds, dim),
      corpus, "vec_id", "emb")
      .orderBy(col("vec_id"))
  }

  /** The FROZEN-model face of [[kmeansOn]] — what a deploy amortizes:
    * centroids trained offline ([[kmeansModelOf]]) ride any frame (a
    * live micro-batch, B70) as literals; assignment is one map stage. */
  private[graft] def kmeansAssignWith(cents: Seq[(Long, Array[Long])],
      corpusIn: DataFrame, idCol: String, embCol: String): DataFrame =
    corpusIn.select(col(idCol).as("vec_id"), col(embCol).as("emb"))
      .select(col("vec_id"), nearestCentroid(cents).as("_b"))
      .select(col("vec_id"), col("_b.cid").as("cluster_id"),
        col("_b.dist").as("dist_q"))

  /** The canned-corpus Lloyd run, exported for frozen-model callers. */
  private[graft] def kmeansModelOf(spark: SparkSession,
      dir: String): Seq[(Long, Array[Long])] =
    lloydCentroids(emb(spark, dir), KmeansK, KmeansRounds, Dim)

  /** The deterministic Lloyd run of [[kmeansOn]], factored so compositions
    * (semantic dedup C43) can reuse the FINAL centroid set for a map-side
    * assignment of their own. `corpus` must carry (vec_id, emb). */
  private[operators] def lloydCentroids(corpus: DataFrame, k: Int,
      rounds: Int, dim: Int): Seq[(Long, Array[Long])] = {
    var cents: Seq[(Long, Array[Long])] = corpus
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
      .collect()
      .map(r => (r.getLong(0), quantizeLocal(r.getSeq[Double](1))))
      .sortBy(_._1).toSeq
    require(cents.nonEmpty, "lloydCentroids: empty corpus — nothing to seed from")
    for (_ <- 1 to rounds) {
      val upd = corpus
        .select(nearestCentroid(cents).getField("cid").as("cid"),
          posexplode(col("emb")))
        .select(col("cid"), col("pos"),
          floor(col("col") * lit(1e6)).cast("long").as("qel"))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("qel")).as("s"), count(lit(1)).as("c"))
        // floor(s/c) in double is exact here: |s| ≤ corpus·2e6 < 2^53 and
        // the true quotient is ≥ 1/c away from any other integer
        .select(col("cid"), col("pos"),
          floor(col("s").cast("double") / col("c")).cast("long").as("m"))
        .collect()
      cents = upd.groupBy(_.getLong(0)).map { case (cid, rows) =>
        val arr = new Array[Long](dim)
        rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
        (cid, arr)
      }.toSeq.sortBy(_._1)
    }
    cents
  }

  def kmeansClusters(spark: SparkSession, dir: String): DataFrame =
    kmeansOn(emb(spark, dir), "vec_id", "emb", KmeansK, KmeansRounds)

  /** CTE chain `c0, a1, c1, …, a{rounds+1}` replaying the deterministic
    * Lloyd run over an in-scope CTE `q(vec_id, qv)`. The final assignment
    * CTE `a{rounds+1}` carries (vec_id, qv, cid, dist) — same seeds,
    * rounds, quantization, and tie-breaks as [[lloydCentroids]]. */
  private[operators] def kmeansSqlCtes(k: Int, rounds: Int,
      dim: Int = Dim): String = {
    def assign(n: Int, prev: String): String =
      s"""a$n AS (
         |  SELECT vec_id, qv, cid, dist FROM (
         |    SELECT vec_id, qv, cid, dist,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM (SELECT q.vec_id, q.qv, c.cid,
         |            CAST(list_sum(list_transform(list_zip(q.qv, c.cq),
         |                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS dist
         |          FROM q CROSS JOIN $prev c))
         |  WHERE rn = 1)""".stripMargin
    def update(n: Int): String =
      s"""c$n AS (
         |  SELECT cid, list(m ORDER BY d) AS cq FROM (
         |    SELECT cid, i AS d,
         |      CAST(floor(CAST(SUM(qv[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
         |    FROM a$n, range(1, ${dim + 1}) t(i) GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    val mid = (1 to rounds).map(i =>
      assign(i, if (i == 1) "c0" else s"c${i - 1}") + ",\n" + update(i))
      .mkString(",\n")
    s"""c0 AS (SELECT vec_id AS cid, qv AS cq FROM q
       |       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k),
       |$mid,
       |${assign(rounds + 1, s"c$rounds")}""".stripMargin
  }

  /** DuckDB twin: the same seeds, rounds, quantization, and tie-breaks,
    * with the Lloyd iterations unrolled as CTE blocks. */
  val kmeansClustersSql: String =
    s"""WITH $embSql,
       |q AS (SELECT vec_id, ${qSql("emb")} AS qv FROM emb),
       |${kmeansSqlCtes(KmeansK, KmeansRounds)}
       |SELECT vec_id, cid AS cluster_id, dist AS dist_q
       |FROM a${KmeansRounds + 1} ORDER BY vec_id""".stripMargin

  // --- C93: cluster-balanced (diversity) sampling --------------------------
  /** Sampled token budget as a fraction of the embedded corpus: 1/4,
    * split EQUALLY across clusters — the diversity objective (a dominant
    * topic cluster is down-sampled toward parity, a rare one kept
    * near-whole), the cluster-level analogue of C84's
    * uniform-over-sources α = 0 endpoint. */
  val ClusterSampleNum = 1L
  val ClusterSampleDen = 4L

  /** Cluster-balanced data selection (the practical recipe behind
    * diversity-aware corpus curation: cluster the embedding space, then
    * sample an EQUAL token share from every cluster rather than ∝ its
    * mass): C28's deterministic k-means assigns clusters; C30's
    * md5-threshold integer gate (under an independent `:cs` salt)
    * selects within each — both composed VERBATIM, this operator adds
    * only the group-by-cluster budgeting.
    *
    * Scale shape: assignment is map-side vs centroid literals; the
    * cluster-mass agg is O(k) (broadcast back); selection is a pure
    * filter. 4-exchange budget pinned. */
  def clusterSample(spark: SparkSession, dir: String): DataFrame = {
    val assign = kmeansOn(emb(spark, dir), "vec_id", "emb",
        KmeansK, KmeansRounds)
      .select(col("vec_id").as("doc_id"), col("cluster_id"))
    val docs = Tables(spark, dir).documents.select(col("doc_id"),
      size(graft.operators.TextOps.tokens(col("text"))).cast("bigint")
        .as("n_tokens"))
    val d = assign.join(docs, "doc_id")
      .withColumn("h16", conv(substring(md5(concat(
        col("doc_id").cast("string"), lit(":cs"))), 1, 4), 16, 10)
        .cast("long"))
    val s = d.groupBy(col("cluster_id"))
      .agg(sum(col("n_tokens")).as("cl_tokens"))
    val t = s.agg(sum(col("cl_tokens")).as("tot"), count(lit(1)).as("n"))
    val thr = s.crossJoin(broadcast(t))
      .select(col("cluster_id"), least(lit(65536L), expr(
        s"($ClusterSampleNum * 65536 * tot) div " +
          s"($ClusterSampleDen * n * greatest(1L, cl_tokens))")).as("thr"))
    d.join(broadcast(thr), "cluster_id")
      .filter(col("h16") < col("thr"))
      .select(col("doc_id"), col("cluster_id"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Twin: the Lloyd replay CTEs + the C30 threshold arithmetic with
    * cluster as the group. */
  lazy val clusterSampleSql: String =
    s"""WITH $embSql,
       |q AS (SELECT vec_id, ${qSql("emb")} AS qv FROM emb),
       |${kmeansSqlCtes(KmeansK, KmeansRounds)},
       |d AS (
       |  SELECT a.vec_id AS doc_id, a.cid AS cluster_id,
       |    CAST(len(regexp_split_to_array(trim(doc.text), '\\s+')) AS BIGINT)
       |      AS n_tokens,
       |    ${graft.operators.CorpusOps.hex4Sql(
              "substr(md5(CAST(a.vec_id AS VARCHAR) || ':cs'), 1, 4)")} AS h16
       |  FROM a${KmeansRounds + 1} a JOIN documents doc
       |    ON a.vec_id = doc.doc_id
       |), s AS (
       |  SELECT cluster_id, CAST(SUM(n_tokens) AS BIGINT) AS cl_tokens
       |  FROM d GROUP BY 1
       |), t AS (
       |  SELECT CAST(SUM(cl_tokens) AS BIGINT) AS tot, COUNT(*) AS n FROM s
       |), thr AS (
       |  SELECT cluster_id,
       |    LEAST(65536, ($ClusterSampleNum * 65536 * tot)
       |      // ($ClusterSampleDen * n * GREATEST(1, cl_tokens))) AS thr
       |  FROM s CROSS JOIN t)
       |SELECT d.doc_id, d.cluster_id, d.n_tokens
       |FROM d JOIN thr USING (cluster_id)
       |WHERE h16 < thr
       |ORDER BY d.doc_id""".stripMargin

  // --- C36: int8 vector quantization ---------------------------------------
  /** Per-vector min-max int8 quantization — the 4× memory/IO cut that keeps
    * a billion-vector ANN corpus in executor memory. Codes, the weighted
    * code checksum, and the max reconstruction error are ALL pure map-side
    * array algebra (one pass, no shuffle); both engines run the identical
    * IEEE expression order, so even the double-valued error hash-matches.
    * The error contract max_err ≤ rng/255 (one quantization step) is pinned
    * by spec — that is the bound a recall-sensitive ANN consumer budgets
    * against. */
  def embeddingQuantizeOn(df: DataFrame, idCol: String,
      embCol: String): DataFrame =
    df.select(col(idCol).as("vec_id"),
        col(embCol).cast("array<double>").as("emb"))
      .withColumn("vmin", array_min(col("emb")))
      .withColumn("vmax", array_max(col("emb")))
      .withColumn("rng", col("vmax") - col("vmin"))
      .withColumn("codes", expr(
        "transform(emb, v -> CAST(CASE WHEN rng = 0 THEN 0 ELSE " +
          "least(255, floor((v - vmin) * 255 / rng)) END AS INT))"))
      .select(col("vec_id"), col("vmin"), col("vmax"),
        expr("aggregate(zip_with(codes, sequence(1, size(codes)), " +
          "(c, i) -> CAST(c AS BIGINT) * i), 0L, (a, x) -> a + x)")
          .as("code_wsum"),
        expr("array_max(zip_with(emb, codes, (v, c) -> " +
          "abs(v - (vmin + CAST(c AS DOUBLE) * rng / 255))))").as("max_err"))
      .orderBy(col("vec_id"))

  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame =
    embeddingQuantizeOn(
      Tables(spark, dir).embeddings, "vec_id", "embedding")

  val embeddingQuantizeSql: String =
    s"""WITH $embSql,
       |s AS (
       |  SELECT vec_id, emb, list_min(emb) AS vmin, list_max(emb) AS vmax,
       |         list_max(emb) - list_min(emb) AS rng
       |  FROM emb
       |), c AS (
       |  SELECT vec_id, vmin, vmax, rng, emb,
       |    list_transform(emb, v -> CAST(CASE WHEN rng = 0 THEN 0 ELSE
       |      least(255, floor((v - vmin) * 255 / rng)) END AS INT)) AS codes
       |  FROM s)
       |SELECT vec_id, vmin, vmax,
       |  CAST(list_sum(list_transform(range(1, len(codes) + 1),
       |    i -> codes[i]::BIGINT * i)) AS BIGINT) AS code_wsum,
       |  list_max(list_transform(range(1, len(codes) + 1),
       |    i -> abs(emb[i] - (vmin + codes[i]::DOUBLE * rng / 255)))) AS max_err
       |FROM c ORDER BY vec_id""".stripMargin

  // --- C43: semantic dedup (SemDeDup) ---------------------------------------
  /** SemDeDup-style semantic deduplication (Abbas et al., arXiv:2303.09540):
    * cluster the embedding corpus, then drop any document that has a
    * τ-similar same-cluster neighbor with a smaller id (the greedy
    * keep-one-representative policy — the keeper of each duplicate relation
    * is the smallest id, chosen without a transitive-closure pass).
    *
    * Scale shape — the whole point of SemDeDup at 100 TB: clustering bounds
    * the pair problem to within-cluster (k grows with the corpus so cluster
    * sizes stay bounded), and WITHIN a cluster candidates come from the same
    * hyperplane-LSH banding C5 uses — the join key is (cluster, band bucket),
    * so no cluster is ever all-pairs'd. Assignment is map-side against the
    * k×dim centroid literals (the [[kmeansOn]] trick); the exact
    * [[graft.functions.vectors.quantized_cosine]] verify decides membership,
    * so LSH candidacy only needs recall, which the C5 threshold/parameter
    * choice provides (inherited here verbatim).
    *
    * Shuffle budget: 2 Lloyd-round (cid, dim) aggs (eager, O(k×dim) rows) +
    * one (cluster, bucket) candidate join + one dropped-doc agg + gate sort.
    *
    * Output: the DROPPED rows — (vec_id, cluster_id, dup_of = smallest
    * τ-similar same-cluster id, score of that pair). Deterministic: ids are
    * unique, so `min`/`min_by(…, id)` never tie.
    *
    * Oracle-parity bound (declared, like C7's recall gate): the DuckDB twin
    * verifies ALL within-cluster pairs while the engine verifies only LSH
    * band candidates, so the hash gate rests on LSH recall for τ-pairs —
    * ~4e-7 miss probability per τ-pair at τ = [[DedupThreshold]] with
    * [[DedupTables]] tables × [[DedupBits]] bits (1−(1−p^b)^t, p =
    * 1−θ/π). At the gate corpus (hundreds of τ-pairs) the run-level miss
    * odds are ≲1e-4; if the gate corpus ever grows to where that bound is
    * material, re-pin this query rows-only (the C7 treatment) or add the
    * same banding to the oracle. */
  def semanticDedupOn(corpusIn: DataFrame, idCol: String, embCol: String,
      k: Int, rounds: Int, threshold: Double,
      tables: Int = DedupTables, bits: Int = DedupBits,
      dim: Int = Dim): DataFrame = {
    val corpus = corpusIn.select(col(idCol).as("vec_id"), col(embCol).as("emb"))
    val cents = lloydCentroids(corpus, k, rounds, dim)
    val bucketed = corpus
      .select(col("vec_id"), col("emb"),
        nearestCentroid(cents).getField("cid").as("cluster_id"),
        explode(lsh_sign_buckets(col("emb"), tables, bits, dim)).as("_bkt"))
    bucketed.as("a").join(bucketed.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a._bkt") === col("b._bkt") && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"), col("b.cluster_id").as("cluster_id"),
        col("a.vec_id").as("id_a"),
        quantized_cosine(col("a.emb"), col("b.emb")).as("score"))
      .filter(col("score") >= threshold)
      // band-duplicate candidate rows carry identical (vec_id, id_a, score),
      // so the keeper agg absorbs them — no pair-dedup exchange needed
      .groupBy(col("vec_id"), col("cluster_id"))
      .agg(min(col("id_a")).as("dup_of"),
        min_by(col("score"), col("id_a")).as("score"))
      .orderBy(col("vec_id"))
  }

  val SemK = 8
  val SemRounds = 2

  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedupOn(dedupEmbCorpus(spark, dir), "vec_id", "emb",
      SemK, SemRounds, DedupThreshold)

  /** DuckDB twin: the shared Lloyd CTE chain over the seeded near-dup
    * corpus, then plain within-cluster pairwise verify (candidacy is a
    * recall-only superset — the exact τ filter decides membership in both
    * engines, the C5 parity argument). */
  val semanticDedupSql: String =
    s"""WITH $dedupEmbCorpusSql,
       |q AS (SELECT vec_id, ${qSql("emb")} AS qv FROM corpus),
       |${kmeansSqlCtes(SemK, SemRounds)},
       |pairs AS (
       |  SELECT y.vec_id AS vec_id, y.cid AS cluster_id, x.vec_id AS id_a,
       |    ${qcosSql("x.qv", "y.qv")} AS score
       |  FROM a${SemRounds + 1} x JOIN a${SemRounds + 1} y
       |    ON x.cid = y.cid AND x.vec_id < y.vec_id)
       |SELECT vec_id, MIN(cluster_id) AS cluster_id, MIN(id_a) AS dup_of,
       |  ARG_MIN(score, id_a) AS score
       |FROM pairs WHERE score >= $DedupThreshold
       |GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // --- C48: MMR diversity selection ----------------------------------------
  val MmrPoolSize = 100
  val MmrK = 10
  val MmrLambda = 0.5

  /** Greedy maximal-marginal-relevance selection (Carbonell & Goldstein,
    * SIGIR'98): pick [[MmrK]] vectors maximizing
    * `rel − λ·max_sim_to_selected` — the diversity-aware sampling an
    * eval-set or few-shot-pool builder needs (pure top-k returns near
    * duplicates of the query's neighborhood).
    *
    * Scale shape: relevance is one map pass + a bounded-heap top-
    * [[MmrPoolSize]] (TakeOrderedAndProject — the pool is a driver
    * literal by construction, like the vocabularies); the pairwise sim
    * matrix over the pool is computed IN Spark (pool self-join, O(C²)
    * rows); only the inherently sequential k-step greedy walk runs
    * driver-side over those collected doubles. Every number the walk
    * compares was produced by the engine's own quantized-cosine — the
    * DuckDB twin unrolls the same k rounds over the same pool/sims and
    * hash-matches. Query anchor = the md5-smallest vec (content-hash
    * spread, no RNG). */
  def diverseTopkOn(corpusIn: DataFrame, idCol: String, embCol: String,
      poolSize: Int, k: Int, lambda: Double): DataFrame = {
    val corpus = corpusIn.select(col(idCol).as("vec_id"), col(embCol).as("emb"))
    val qRow = corpus
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(1)
      .collect()(0)
    val qv = qRow.getSeq[Double](1)
    val pool = corpus
      .select(col("vec_id"), col("emb"),
        quantized_cosine(col("emb"), typedLit(qv)).as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(poolSize)
      .localCheckpoint(eager = true)
    val rels = pool.select(col("vec_id"), col("rel")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val sims = pool.as("a").join(pool.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        quantized_cosine(col("a.emb"), col("b.emb")).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def simOf(x: Long, y: Long): Double =
      if (x < y) sims((x, y)) else sims((y, x))
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    val chosen = scala.collection.mutable.Set.empty[Long]
    for (rank <- 1 to math.min(k, rels.length)) {
      val best = rels.iterator.filterNot(r => chosen(r._1)).map { case (id, rel) =>
        val maxSim = if (chosen.isEmpty) 0.0
          else chosen.iterator.map(s => simOf(id, s)).max
        (id, rel, rel - lambda * maxSim)
      }.reduceLeft { (x, y) =>
        if (y._3 > x._3 || (y._3 == x._3 && y._1 < x._1)) y else x
      }
      selected += ((rank, best._1, best._2, best._3))
      chosen += best._1
    }
    val spark = corpusIn.sparkSession
    import spark.implicits._
    selected.toSeq.toDF("rank", "vec_id", "relevance", "mmr_score")
      .orderBy(col("rank"))
  }

  def diverseTopk(spark: SparkSession, dir: String): DataFrame =
    diverseTopkOn(emb(spark, dir), "vec_id", "emb", MmrPoolSize, MmrK, MmrLambda)

  // --- C53: multi-query MMR (per-query diverse selection) ------------------
  val MmrMultiQ = 4
  val MmrMultiPool = 50

  /** [[diverseTopkOn]] generalized to a QUERY SET — the few-shot-pool /
    * eval-suite builder runs one diverse selection per probe query, not
    * one global pick. Query anchors are the [[MmrMultiQ]] md5-smallest
    * vectors (content-hash spread, no RNG).
    *
    * Scale shape: ONE corpus map pass scores relevance against the whole
    * broadcast query set; per-query pools come from bounded heaps
    * ([[graft.functions.TopKByScore]] — (rel desc, id) cut, no per-query
    * sort of the corpus); the pairwise sim matrix is Q × P²/2 rows
    * computed in Spark; only the inherently sequential greedy walks (Q × k
    * steps over collected doubles) run driver-side. Everything the walks
    * compare was produced by the engine's own quantized-cosine, so the
    * per-query unrolled DuckDB twin hash-matches. */
  def diverseTopkMultiOn(corpusIn: DataFrame, idCol: String, embCol: String,
      nQueries: Int, poolSize: Int, k: Int, lambda: Double): DataFrame = {
    val spark = corpusIn.sparkSession
    import spark.implicits._
    val corpus = corpusIn.select(col(idCol).as("vec_id"), col(embCol).as("emb"))
    val qdf = corpus
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val pools = corpus.crossJoin(broadcast(qdf))
      .select(col("query_id"), col("vec_id"),
        quantized_cosine(col("emb"), col("qemb")).as("rel"))
      .groupBy(col("query_id"))
      .agg(graft.functions.topk.top_k_by_score(col("rel"), col("vec_id"),
        poolSize).as("_tk"))
      .select(col("query_id"), explode(col("_tk")).as("_c"))
      .select(col("query_id"), col("_c.id").as("vec_id"),
        col("_c.score").as("rel"))
      .join(corpus, "vec_id")
      .localCheckpoint(eager = true)
    val rels = pools.select(col("query_id"), col("vec_id"), col("rel"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sims = pools.as("a").join(pools.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.query_id").as("qid"), col("a.vec_id").as("ia"),
        col("b.vec_id").as("ib"),
        quantized_cosine(col("a.emb"), col("b.emb")).as("sim"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    def simOf(q: Long, x: Long, y: Long): Double =
      if (x < y) sims((q, x, y)) else sims((q, y, x))
    val out = rels.map(_._1).distinct.sorted.flatMap { qid =>
      val qRels = rels.collect { case (`qid`, id, rel) => id -> rel }
      val chosen = scala.collection.mutable.Set.empty[Long]
      (1 to math.min(k, qRels.length)).map { rank =>
        val best = qRels.iterator.filterNot(r => chosen(r._1))
          .map { case (id, rel) =>
            val maxSim = if (chosen.isEmpty) 0.0
              else chosen.iterator.map(s => simOf(qid, id, s)).max
            (id, rel, rel - lambda * maxSim)
          }.reduceLeft { (x, y) =>
            if (y._3 > x._3 || (y._3 == x._3 && y._1 < x._1)) y else x
          }
        chosen += best._1
        (qid, rank, best._1, best._2, best._3)
      }
    }
    out.toSeq.toDF("query_id", "rank", "vec_id", "relevance", "mmr_score")
      .orderBy(col("query_id"), col("rank"))
  }

  def diverseTopkMulti(spark: SparkSession, dir: String): DataFrame =
    diverseTopkMultiOn(emb(spark, dir), "vec_id", "emb",
      MmrMultiQ, MmrMultiPool, MmrK, MmrLambda)

  /** Twin: the [[diverseTopkSql]] unrolled walk with a query dimension —
    * per-round argmax becomes a per-query ROW_NUMBER() = 1. */
  val diverseTopkMultiSql: String = {
    val rounds = (2 to MmrK).map { n =>
      s"""s$n AS MATERIALIZED (
         |  SELECT query_id, vec_id, rel, mmr, $n AS rank FROM (
         |    SELECT query_id, vec_id, rel, mmr,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY mmr DESC, vec_id) AS rn
         |    FROM (
         |      SELECT p.query_id, p.vec_id, p.rel,
         |        p.rel - $MmrLambda * (
         |          SELECT MAX(sim) FROM sims, sel${n - 1} s
         |          WHERE sims.query_id = p.query_id AND s.query_id = p.query_id
         |            AND ((sims.ia = p.vec_id AND sims.ib = s.vec_id)
         |              OR (sims.ib = p.vec_id AND sims.ia = s.vec_id))) AS mmr
         |      FROM pool p
         |      WHERE NOT EXISTS (SELECT 1 FROM sel${n - 1} s
         |        WHERE s.query_id = p.query_id AND s.vec_id = p.vec_id)))
         |  WHERE rn = 1
         |), sel$n AS MATERIALIZED (
         |  SELECT query_id, vec_id FROM sel${n - 1}
         |  UNION ALL SELECT query_id, vec_id FROM s$n)""".stripMargin
    }.mkString(",\n")
    val out = (1 to MmrK).map(n =>
      s"SELECT query_id, rank, vec_id, rel, mmr FROM s$n")
      .mkString("\nUNION ALL ")
    s"""WITH $embSql,
       |q AS (SELECT vec_id, ${qSql("emb")} AS qv FROM emb),
       |qs AS MATERIALIZED (
       |  SELECT vec_id AS query_id, qv AS qqv FROM q
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $MmrMultiQ),
       |pool AS MATERIALIZED (
       |  SELECT query_id, vec_id, qv, rel FROM (
       |    SELECT query_id, vec_id, qv, rel,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY rel DESC, vec_id) AS rn
       |    FROM (SELECT qs.query_id, q.vec_id, q.qv,
       |            ${qcosSql("q.qv", "qs.qqv")} AS rel
       |          FROM q CROSS JOIN qs))
       |  WHERE rn <= $MmrMultiPool),
       |sims AS MATERIALIZED (
       |  SELECT a.query_id, a.vec_id AS ia, b.vec_id AS ib,
       |    ${qcosSql("a.qv", "b.qv")} AS sim
       |  FROM pool a JOIN pool b
       |    ON a.query_id = b.query_id AND a.vec_id < b.vec_id),
       |s1 AS MATERIALIZED (
       |  SELECT query_id, vec_id, rel, rel AS mmr, 1 AS rank FROM (
       |    SELECT query_id, vec_id, rel,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY rel DESC, vec_id) AS rn
       |    FROM pool) WHERE rn = 1
       |), sel1 AS MATERIALIZED (SELECT query_id, vec_id FROM s1),
       |$rounds
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
       |  rel AS relevance, mmr AS mmr_score
       |FROM ($out)
       |ORDER BY query_id, rank""".stripMargin
  }

  val diverseTopkSql: String = {
    val rounds = (2 to MmrK).map { n =>
      s"""s$n AS MATERIALIZED (
         |  SELECT vec_id, rel,
         |    rel - $MmrLambda * (
         |      SELECT MAX(sim) FROM sims, sel${n - 1} s
         |      WHERE (ia = p.vec_id AND ib = s.vec_id)
         |         OR (ib = p.vec_id AND ia = s.vec_id)) AS mmr,
         |    $n AS rank
         |  FROM pool p WHERE vec_id NOT IN (SELECT vec_id FROM sel${n - 1})
         |  ORDER BY mmr DESC, vec_id LIMIT 1
         |), sel$n AS MATERIALIZED (SELECT vec_id FROM sel${n - 1}
         |            UNION ALL SELECT vec_id FROM s$n)""".stripMargin
    }.mkString(",\n")
    val out = (1 to MmrK).map(n => s"SELECT * FROM s$n").mkString("\nUNION ALL ")
    s"""WITH $embSql,
       |q AS (SELECT vec_id, ${qSql("emb")} AS qv FROM emb),
       |q0 AS (SELECT qv AS q0v FROM q
       |       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
       |pool AS MATERIALIZED (
       |  SELECT vec_id, qv, ${qcosSql("qv", "q0.q0v")} AS rel
       |  FROM q, q0 q0
       |  ORDER BY rel DESC, vec_id LIMIT $MmrPoolSize
       |), sims AS MATERIALIZED (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib, ${qcosSql("a.qv", "b.qv")} AS sim
       |  FROM pool a JOIN pool b ON a.vec_id < b.vec_id
       |), s1 AS MATERIALIZED (
       |  SELECT vec_id, rel, rel AS mmr, 1 AS rank FROM pool
       |  ORDER BY rel DESC, vec_id LIMIT 1
       |), sel1 AS MATERIALIZED (SELECT vec_id FROM s1),
       |$rounds
       |SELECT CAST(rank AS INT) AS rank, vec_id, rel AS relevance,
       |       mmr AS mmr_score
       |FROM ($out) ORDER BY rank""".stripMargin
  }

  // --- C70: hybrid retrieval fusion (BM25 ⊕ ANN via RRF) -------------------
  /** Reciprocal-rank fusion of the two retrieval families this engine
    * already ships — Okapi BM25 (C25, keyword) and exact cosine top-k
    * (C6, semantic) — the RAG-retrieval shape a corpus-search user reaches
    * for right after deploying either index alone (Cormack et al.,
    * SIGIR'09: RRF(d) = Σ_r 1/(K + rank_r(d)) with K = 60 routinely beats
    * either ranker and needs no score calibration, only ranks).
    *
    * The semantic probe per query is the embedding of that query's top-1
    * BM25 hit (the lexical-anchor / more-like-this expansion — no text
    * encoder exists for the canned term queries, and anchoring keeps the
    * whole pipeline deterministic and oracle-replayable). The anchor doc
    * itself is excluded from its own semantic candidates.
    *
    * Scale shape: both ranker outputs are O(queries × k) frames, so the
    * fusion is a full-outer join + one per-query heap over ≤ 2k rows —
    * every exchange past the two rankers carries ranks, never the corpus.
    * The semantic stage is C6's broadcast-scoring discipline (query
    * anchors broadcast, corpus scanned once, TopKByScore partial heaps —
    * no rank window over the scored stream). RRF terms are single IEEE
    * divisions of exact ints summed in fixed textual order → engine-
    * identical doubles (DuckDB oracle hash-checks). */
  val RrfK = 60
  val HybridK: Int = CorpusOps.Bm25TopK

  /** The lexical ranks + per-query anchor embeddings — ONE spelling shared
    * by the brute (C70) and index-probed (C70b) hybrids, so the variants
    * can only differ in their semantic candidate source. */
  private def lexAndAnchors(documents: DataFrame, embeddings: DataFrame,
      queries: Seq[(String, Seq[String])], k: Int): (DataFrame, DataFrame) = {
    val lex = CorpusOps.bm25RankedOn(documents, "doc_id", "text", queries, k)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
      // O(queries × k) rows, consumed twice (anchor pick + fusion):
      // checkpoint so the BM25 plan runs once, not once per consumer
      .localCheckpoint(eager = true)
    val anchors = embeddings.select(col("vec_id"), col("emb"))
      .join(broadcast(lex.filter(col("lex_rank") === 1)
        .select(col("query_id").as("_qid"), col("doc_id").as("_aid"))),
        col("vec_id") === col("_aid"))
      .select(col("_qid"), col("_aid"), col("emb").as("_qemb"))
    (lex, anchors)
  }

  /** THE RRF step — one spelling for both hybrids: the probed variant can
    * only differ in WHERE its semantic ranks come from, never in how ranks
    * fuse. `sem` must carry (query_id, doc_id, sem_rank). */
  private def rrfFuse(lex: DataFrame, sem: DataFrame, k: Int): DataFrame = {
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), col("lex_rank"), col("sem_rank"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("sem_rank")), lit(0.0)))
          .as("rrf_score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  def hybridSearchOn(documents: DataFrame, embeddings: DataFrame,
      queries: Seq[(String, Seq[String])], k: Int): DataFrame = {
    val (lex, anchors) = lexAndAnchors(documents, embeddings, queries, k)
    val sem = embeddings.select(col("vec_id"), col("emb"))
      .crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("_aid"))
      .select(col("_qid"), col("vec_id"),
        quantized_cosine(col("emb"), col("_qemb")).as("_s"))
      .groupBy(col("_qid"))
      .agg(graft.functions.topk.top_k_by_score(col("_s"), col("vec_id"), k)
        .as("_tk"))
      .select(col("_qid"), posexplode(col("_tk")))
      .select(col("_qid").as("query_id"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("int").as("sem_rank"))
    rrfFuse(lex, sem, k)
  }

  def hybridSearch(spark: SparkSession, dir: String): DataFrame =
    hybridSearchOn(Tables(spark, dir).documents, emb(spark, dir),
      CorpusOps.Bm25Queries, HybridK)

  // --- C70b: hybrid retrieval probing the persisted IVF×PQ index ----------
  /** C70's 100 TB spelling: the semantic side PROBES the persisted C50
    * IVF×PQ index through the ADC+R two-stage ranker instead of brute-
    * scanning the corpus per query batch — the anchor embedding routes to
    * `nProbe` coarse cells, codes rank candidates, only refine×k survivors
    * read a full vector. The lexical ranks and the RRF step are the SAME
    * code paths as C70 ([[lexAndAnchors]]/[[rrfFuse]]), so fusion recall
    * vs the brute hybrid is exactly the semantic ranker's recall story —
    * rows-only by design (output depends on index parameters), pinned by
    * the fusion-recall spec against C70. */
  def hybridSearchProbeOn(spark: SparkSession, indexPath: String,
      documents: DataFrame, embeddings: DataFrame,
      queries: Seq[(String, Seq[String])], k: Int): DataFrame = {
    val (lex, anchors) = lexAndAnchors(documents, embeddings, queries, k)
    // the probe machinery keys queries by LONG id; the O(queries) ordinal
    // map rides the plan as a literal both ways. Ordinals are NEGATIVE
    // (−1 − i): the ranker's internal `neighbor_id <> query_id` self-
    // exclusion compares them against corpus vec_ids, and a non-negative
    // ordinal colliding with a real vec_id would silently drop that
    // vector from the query's candidates (found in r13 session 2 while
    // oracle-converting this key; anchor exclusion is the explicit
    // `_aid` filter below, never the ordinal)
    val qOrd: Map[String, Long] =
      queries.map(_._1).zipWithIndex.map { case (q, i) => q -> (-1L - i) }.toMap
    val qInv: Map[Long, String] = qOrd.map(_.swap)
    val anchorsL = anchors
      .withColumn("_qidl", element_at(typedLit(qOrd), col("_qid")))
    // k+1 candidates so excluding the anchor itself still leaves k; the
    // anchor ranks itself first in any sane index, but that is not assumed
    val probed = Ann.ivfPqRefineTopK(spark, indexPath,
      anchorsL, "_qidl", "_qemb", Dim, k + 1, nProbe = IvfProbes)
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val sem = probed
      .join(broadcast(anchorsL.select(col("_qidl").as("query_id"), col("_aid"))),
        "query_id")
      .filter(col("neighbor_id") =!= col("_aid"))
      .select(element_at(typedLit(qInv), col("query_id")).as("query_id"),
        col("neighbor_id").as("doc_id"), col("score"))
      .withColumn("sem_rank", row_number().over(ws).cast("int"))
      .filter(col("sem_rank") <= k)
      .drop("score")
    rrfFuse(lex, sem, k)
  }

  def hybridSearchProbe(spark: SparkSession, dir: String): DataFrame = {
    val corpus = emb(spark, dir)
    val path = graft.sources.IndexScratch.path(IvfPqIndexKind, dir)
    graft.sources.IndexScratch.ensure(path)(p =>
      Ann.ivfPqBuild(corpus, "vec_id", "emb", Dim, nLists = IvfLists, p))
    hybridSearchProbeOn(spark, path, Tables(spark, dir).documents, corpus,
      CorpusOps.Bm25Queries, HybridK)
  }

  val hybridSearchSql: String =
    s"""WITH ${CorpusOps.bm25Ctes},
       |$embSql,
       |qv AS (SELECT vec_id, ${qSql("emb")} AS qv FROM emb),
       |anchors AS (SELECT query_id, doc_id AS anchor_id
       |            FROM bm25ranked WHERE rank = 1),
       |aq AS (SELECT query_id AS qid, anchor_id, qv.qv AS aqv
       |       FROM anchors JOIN qv ON qv.vec_id = anchor_id),
       |sems AS (
       |  SELECT qid, vec_id AS doc_id, ${qcosSql("qv.qv", "aq.aqv")} AS s
       |  FROM qv CROSS JOIN aq WHERE qv.vec_id <> aq.anchor_id),
       |semr AS (
       |  SELECT qid AS query_id, doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |         ORDER BY s DESC, doc_id) AS INT) AS sem_rank
       |  FROM sems QUALIFY sem_rank <= $HybridK),
       |lexr AS (SELECT query_id, doc_id, rank AS lex_rank FROM bm25ranked),
       |fused AS (
       |  SELECT query_id, doc_id, lex_rank, sem_rank,
       |    COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + lex_rank), CAST(0.0 AS DOUBLE))
       |      + COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + sem_rank), CAST(0.0 AS DOUBLE))
       |      AS rrf_score
       |  FROM lexr FULL JOIN semr USING (query_id, doc_id))
       |SELECT query_id, doc_id, lex_rank, sem_rank, rrf_score,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |       ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
       |FROM fused
       |QUALIFY rank <= $HybridK
       |ORDER BY query_id, rank""".stripMargin

  /** Registry for SparkEntry. ann_lsh_topk / ann_ivf_topk are rows-only:
    * their output depends on index parameters, so they are pinned by the
    * recall specs instead of SQL. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_brute_topk" -> (annBruteTopk _),
    "dedup_embedding" -> (dedupEmbedding _),
    "ann_lsh_topk" -> (annLshTopk _),
    "ann_lsh_stats" -> (annLshStats _),
    "ann_ivf_topk" -> (annIvfTopk _),
    "ann_graph_topk" -> (annGraphTopk _),
    "ann_graph_probe" -> (annGraphProbe _),
    "embed_stats" -> (embedStats _),
    "embed_pca" -> (embedPca _),
    "kmeans_clusters" -> (kmeansClusters _),
    "cluster_sample" -> (clusterSample _),
    "embedding_quantize" -> (embeddingQuantize _),
    "semantic_dedup" -> (semanticDedup _),
    "ann_pq_topk" -> (annPqTopk _),
    "ann_ivfpq_topk" -> (annIvfPqTopk _),
    "ann_ivfpq_refine" -> (annIvfPqRefineTopk _),
    "ann_ivf_stats" -> (annIvfStats _),
    "diverse_topk" -> (diverseTopk _),
    "diverse_topk_multi" -> (diverseTopkMulti _),
    "hybrid_search" -> (hybridSearch _),
    "hybrid_search_probe" -> (hybridSearchProbe _)
  )

  val oracles: Map[String, String] = Map(
    "ann_brute_topk" -> annBruteTopkSql,
    "dedup_embedding" -> dedupEmbeddingSql,
    "embed_stats" -> embedStatsSql,
    "embed_pca" -> embedPcaSql,
    "kmeans_clusters" -> kmeansClustersSql,
    "cluster_sample" -> clusterSampleSql,
    "embedding_quantize" -> embeddingQuantizeSql,
    "semantic_dedup" -> semanticDedupSql,
    "diverse_topk" -> diverseTopkSql,
    "diverse_topk_multi" -> diverseTopkMultiSql,
    "hybrid_search" -> hybridSearchSql,
    "ann_ivf_stats" -> annIvfStatsSql,
    "ann_ivf_topk" -> annIvfTopkSql,
    "ann_graph_topk" -> annGraphTopkSql,
    "ann_graph_probe" -> annGraphTopkSql,
    "ann_lsh_topk" -> annLshTopkSql,
    "ann_lsh_stats" -> annLshStatsSql,
    "ann_pq_topk" -> annPqTopkSql,
    "ann_ivfpq_topk" -> annIvfPqTopkSql,
    "ann_ivfpq_refine" -> annIvfPqRefineSql,
    "hybrid_search_probe" -> annHybridProbeSql
  )
}
