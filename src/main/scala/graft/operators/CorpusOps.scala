package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** SURVEY §2 block C continued (C23–C27): corpus-hygiene operators a
  * large-scale training-data pipeline runs beyond dedup/quality — repetition
  * filtering, benchmark decontamination, corpus search, sequence packing,
  * and incremental (cross-batch) dedup.
  *
  * Scale notes (100 TB):
  *  - C23 is a pure map stage: the repetition counters are a one-pass
  *    row-granular kernel ([[graft.functions.RepetitionStats]]); the
  *    groupBy-(doc, gram) formulation would shuffle the whole token stream
  *    to answer a per-document question.
  *  - C24 joins the corpus' shingle stream against the BROADCAST distinct
  *    shingle set of the benchmark side — benchmark suites are MBs while
  *    the corpus is TBs, so the corpus never shuffles (partial-agg count
  *    per doc is the only exchange).
  *  - C25 runs two corpus passes (global length stats, then the
  *    term-match partial agg); query terms broadcast; per-(query,doc)
  *    scores shuffle O(matches), never O(corpus).
  *  - C26 packs within hash shards — each shard's running offset is an
  *    independent window, so packing parallelism = shard count, and
  *    membership is reshard-stable (pure function of doc_id).
  *  - C27 builds a Bloom filter over the HISTORICAL corpus' content hashes
  *    (one agg, mergeable partials) and broadcasts it: the new batch
  *    anti-joins only its bloom-positive sliver — the shuffle carries
  *    O(dups + false positives), not O(batch), exactly the shape Spark's
  *    own runtime-filter injection uses.
  */
object CorpusOps {

  // --- C23: repetition signals (Gopher-style) ------------------------------
  /** Flag thresholds follow the Gopher repetition-filter family (Rae et al.
    * 2021: fraction-of-characters-in-top-ngram ~0.20, duplicate-ngram
    * fraction ~0.30), applied to word 2-grams. */
  val TopGramFracMax = 0.2
  val DupGramFracMax = 0.3

  /** Per-document repetition metrics: duplicate-2-gram fraction (share of
    * 2-gram OCCURRENCES that are repeats) and top-2-gram fraction (share
    * claimed by the most frequent 2-gram). Counters are integers from a
    * single map-side kernel pass; the fractions divide those integers in
    * IEEE double, so every engine computes the identical bits. */
  def textRepetitionOn(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val r = graft.functions.textsketch.repetition_stats(col(textCol))
    docs
      .select(col(idCol).as("doc_id"), r.as("r"))
      .select(col("doc_id"), col("r.n_words"), col("r.distinct_words"),
        col("r.n_grams"), col("r.distinct_grams"), col("r.top_gram_n"))
      .withColumn("dup_gram_frac",
        when(col("n_grams") > 0,
          (col("n_grams") - col("distinct_grams")).cast("double") / col("n_grams"))
          .otherwise(lit(0.0)))
      .withColumn("top_gram_frac",
        when(col("n_grams") > 0,
          col("top_gram_n").cast("double") / col("n_grams"))
          .otherwise(lit(0.0)))
      .withColumn("repetitive",
        (col("top_gram_frac") > TopGramFracMax ||
          col("dup_gram_frac") > DupGramFracMax).cast("int"))
  }

  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    textRepetitionOn(Tables(spark, dir).documents, "doc_id", "text")
      .orderBy(col("doc_id"))

  val textRepetitionSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |), w AS (
       |  SELECT doc_id, CAST(len(toks) AS INT) AS n_words,
       |         CAST(len(list_distinct(toks)) AS INT) AS distinct_words,
       |         list_transform(range(1, len(toks)),
       |                        i -> toks[i] || ' ' || toks[i+1]) AS grams
       |  FROM t
       |), c AS (
       |  SELECT doc_id, s, COUNT(*) AS cnt
       |  FROM (SELECT doc_id, unnest(grams) AS s FROM w) GROUP BY 1, 2
       |), g AS (
       |  SELECT doc_id, CAST(SUM(cnt) AS INT) AS n_grams,
       |         CAST(COUNT(*) AS INT) AS distinct_grams,
       |         CAST(MAX(cnt) AS INT) AS top_gram_n
       |  FROM c GROUP BY 1)
       |SELECT w.doc_id, n_words, distinct_words,
       |  COALESCE(n_grams, 0) AS n_grams,
       |  COALESCE(distinct_grams, 0) AS distinct_grams,
       |  COALESCE(top_gram_n, 0) AS top_gram_n,
       |  CASE WHEN COALESCE(n_grams, 0) > 0
       |       THEN CAST(n_grams - distinct_grams AS DOUBLE) / n_grams
       |       ELSE 0.0 END AS dup_gram_frac,
       |  CASE WHEN COALESCE(n_grams, 0) > 0
       |       THEN CAST(top_gram_n AS DOUBLE) / n_grams
       |       ELSE 0.0 END AS top_gram_frac,
       |  CAST(CASE WHEN COALESCE(n_grams, 0) > 0
       |            AND (CAST(top_gram_n AS DOUBLE) / n_grams > $TopGramFracMax
       |             OR CAST(n_grams - distinct_grams AS DOUBLE) / n_grams > $DupGramFracMax)
       |       THEN 1 ELSE 0 END AS INT) AS repetitive
       |FROM w LEFT JOIN g ON w.doc_id = g.doc_id
       |ORDER BY w.doc_id""".stripMargin

  // --- C24: benchmark decontamination --------------------------------------
  /** Every 97th document plays the held-out benchmark/eval suite. */
  val BenchmarkMod = 97

  /** Training docs sharing ≥1 word 3-gram with the benchmark set (the GPT-3
    * style n-gram-overlap decontamination check). The benchmark's distinct
    * shingle set is broadcast — at deploy scale it is a few MB against a
    * multi-TB corpus, so contamination detection costs one corpus map pass
    * plus a per-doc partial-agg count. */
  def decontaminateOn(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    val benchShingles = bench
      .select(explode(TextOps.shingles(col(textCol), n)).as("s")).distinct()
    train
      .select(col(idCol).as("doc_id"),
        explode(TextOps.shingles(col(textCol), n)).as("s"))
      .join(broadcast(benchShingles), "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    decontaminateOn(docs.filter(col("doc_id") % BenchmarkMod =!= 0),
      docs.filter(col("doc_id") % BenchmarkMod === 0), "doc_id", "text")
  }

  val decontaminateSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)-1),
       |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |        FROM documents)
       |), bench AS (
       |  SELECT DISTINCT s FROM sh WHERE doc_id % $BenchmarkMod = 0)
       |SELECT doc_id, COUNT(*) AS n_shared
       |FROM sh JOIN bench USING (s)
       |WHERE doc_id % $BenchmarkMod <> 0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- C32: fuzzy benchmark decontamination (near-dup, cross-corpus) -------
  /** Exact-Jaccard gate for calling a train document contaminated. */
  val FuzzyThreshold = 0.5
  /** Id shift for the seeded contaminated copies (NOT ≡ 0 mod
    * [[BenchmarkMod]], so a shifted id never masquerades as benchmark). */
  val ContaminatedShift = 500000000L

  /** The training corpus with seeded contamination: every benchmark doc
    * re-enters under a shifted id with a 3-token suffix — a near-dup
    * (Jaccard ≈ 0.9), not an exact copy, so C24's exact-overlap check is
    * not what catches it. Deterministic, so the oracle rebuilds it. */
  def fuzzyTrain(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    docs.filter(col("doc_id") % BenchmarkMod =!= 0)
      .unionAll(docs.filter(col("doc_id") % BenchmarkMod === 0)
        .select((col("doc_id") + ContaminatedShift).as("doc_id"),
          concat(col("text"), lit(" leaked eval copy")).as("text")))
  }

  /** Fuzzy decontamination: NEAR-duplicate matches between the training
    * corpus and the benchmark suite — paraphrased/truncated leaks that
    * C24's exact n-gram overlap underweights. MinHash-LSH candidates
    * across the two corpora ([[Dedup.minhashLshPairsAcross]]: the
    * benchmark side broadcasts, the training corpus never shuffles) then
    * the exact per-pair Jaccard verify. Candidacy is the deterministic
    * band criterion, so the DuckDB twin replays it via the shared
    * candidate-CTE fragment and the result is hash-checked. */
  def decontaminateFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    val bench = docs.filter(col("doc_id") % BenchmarkMod === 0)
    val train = fuzzyTrain(spark, dir)
    val cands = Dedup.minhashLshPairsAcross(train, bench, "doc_id", "text")
    Dedup.verifyJaccardPairs(cands, train.unionAll(bench), "doc_id", "text",
        n = 3, threshold = FuzzyThreshold)
      .select(col("id_a").as("train_id"), col("id_b").as("bench_id"),
        col("jaccard"))
      .orderBy(col("train_id"), col("bench_id"))
  }

  val decontaminateFuzzySql: String = {
    val isBench = (c: String) =>
      s"($c % $BenchmarkMod = 0 AND $c < $ContaminatedShift)"
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % $BenchmarkMod <> 0
       |  UNION ALL
       |  SELECT doc_id + $ContaminatedShift,
       |         text || ' leaked eval copy' AS text
       |  FROM documents WHERE doc_id % $BenchmarkMod = 0
       |  UNION ALL
       |  SELECT doc_id, text FROM documents WHERE doc_id % $BenchmarkMod = 0
       |), ${Sketch.minhashCandidateCtes("corpus")},
       |shl AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
       |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |        FROM corpus)
       |), cross_pairs AS (
       |  SELECT CASE WHEN a_is_bench THEN doc_b ELSE doc_a END AS train_id,
       |         CASE WHEN a_is_bench THEN doc_a ELSE doc_b END AS bench_id
       |  FROM (SELECT doc_a, doc_b,
       |          ${isBench("doc_a")} AS a_is_bench,
       |          ${isBench("doc_b")} AS b_is_bench
       |        FROM cand)
       |  WHERE a_is_bench <> b_is_bench
       |)
       |SELECT * FROM (
       |  SELECT train_id, bench_id,
       |    CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
       |      / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) AS jaccard
       |  FROM cross_pairs
       |  JOIN shl a ON a.doc_id = train_id
       |  JOIN shl b ON b.doc_id = bench_id)
       |WHERE jaccard >= $FuzzyThreshold
       |ORDER BY train_id, bench_id""".stripMargin
  }

  // --- C34: fingerprint benchmark decontamination (SimHash, cross-corpus) --
  /** The seeded leak corpus for C34: every benchmark doc re-enters under a
    * shifted id with a ONE-token suffix — a fingerprint-level near-dup
    * (median simhash hamming ≈ 2 on the synthetic corpus). Deterministic,
    * so the oracle rebuilds it. */
  def simhashLeakTrain(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    docs.filter(col("doc_id") % BenchmarkMod =!= 0)
      .unionAll(docs.filter(col("doc_id") % BenchmarkMod === 0)
        .select((col("doc_id") + ContaminatedShift).as("doc_id"),
          concat(col("text"), lit(" leaked")).as("text")))
  }

  /** Fingerprint-based fuzzy decontamination: train documents within
    * simhash hamming ≤ [[Sketch.MaxHamming]] of a benchmark document —
    * the CONSTANT-SKETCH-SIZE complement of C32's MinHash path (64 bits
    * per doc vs a 64-slot signature; the radius is bounded but recall
    * inside it is GUARANTEED by pigeonhole banding, not probabilistic).
    *
    * Scale shape: [[Dedup.simhashPairsAcross]] — the benchmark side's
    * banded fingerprints broadcast; the training corpus is fingerprinted
    * map-side and never shuffles; the hamming verify runs before the
    * pair-dedup so only true matches reach an exchange. */
  def decontaminateSimhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    val bench = docs.filter(col("doc_id") % BenchmarkMod === 0)
    Dedup.simhashPairsAcross(simhashLeakTrain(spark, dir), bench,
        "doc_id", "text",
        bandBits = Sketch.SimhashBandBits, maxHamming = Sketch.MaxHamming)
      .select(col("id_a").as("train_id"), col("id_b").as("bench_id"),
        col("hamming"))
      .orderBy(col("train_id"), col("bench_id"))
  }

  val decontaminateSimhashSql: String = {
    val isBench = (c: String) =>
      s"($c % $BenchmarkMod = 0 AND $c < $ContaminatedShift)"
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % $BenchmarkMod <> 0
       |  UNION ALL
       |  SELECT doc_id + $ContaminatedShift, text || ' leaked' AS text
       |  FROM documents WHERE doc_id % $BenchmarkMod = 0
       |  UNION ALL
       |  SELECT doc_id, text FROM documents WHERE doc_id % $BenchmarkMod = 0
       |), ${Sketch.simhashFpCtes("corpus")}, bd AS (
       |  SELECT doc_id, fp, b, (fp >> (${Sketch.SimhashBandBits} * b)) & 255 AS bkt
       |  FROM fps, range(0, ${Sketch.SimhashBands}) t(b)
       |), cand AS (
       |  SELECT DISTINCT
       |    CASE WHEN a_is_bench THEN doc_b ELSE doc_a END AS train_id,
       |    CASE WHEN a_is_bench THEN doc_a ELSE doc_b END AS bench_id,
       |    CASE WHEN a_is_bench THEN fb ELSE fa END AS train_fp,
       |    CASE WHEN a_is_bench THEN fa ELSE fb END AS bench_fp
       |  FROM (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |          x.fp AS fa, y.fp AS fb,
       |          ${isBench("x.doc_id")} AS a_is_bench,
       |          ${isBench("y.doc_id")} AS b_is_bench
       |        FROM bd x JOIN bd y
       |          ON x.b = y.b AND x.bkt = y.bkt AND x.doc_id < y.doc_id)
       |  WHERE a_is_bench <> b_is_bench
       |)
       |SELECT train_id, bench_id,
       |  CAST(bit_count(xor(train_fp, bench_fp)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(train_fp, bench_fp)) <= ${Sketch.MaxHamming}
       |ORDER BY train_id, bench_id""".stripMargin
  }

  // --- C62: containment benchmark decontamination (quote-inclusion) --------
  /** Containment gate: the fraction of a BENCHMARK doc's distinct shingles
    * present in a train doc must stay below this. Asymmetric on purpose —
    * a 10k-token train doc quoting a 100-token eval item whole has Jaccard
    * ≈ 0.01 (C32 passes it) but containment 1.0. */
  val ContainmentThreshold = 0.8
  /** Filler length (tokens) for the seeded quote-inclusion leaks — sized so
    * the leaked pair's symmetric Jaccard sits BELOW [[FuzzyThreshold]] for
    * any corpus doc (≤ ~1200 distinct shingles), proving C32 misses it. */
  val ContainmentPadTokens = 1200

  /** The seeded leak corpus: every benchmark doc re-enters under a shifted
    * id EMBEDDED WHOLE after [[ContainmentPadTokens]] generated filler
    * tokens — every benchmark shingle survives intact (containment 1.0)
    * while the symmetric Jaccard drowns in filler. Deterministic, so the
    * oracle rebuilds it with the same `sequence`-generated filler. */
  /** The derivation over ANY (doc_id, text) frame — ONE spelling shared by
    * the batch query, the B55 stream twin, and the scale probe, so the
    * stream's "drain == batch" claim cannot desync on a constant edit. */
  def containmentLeakTrainOn(docs: DataFrame): DataFrame = {
    val filler = concat_ws(" ",
      transform(sequence(lit(0), lit(ContainmentPadTokens - 1)),
        i => concat(lit("pad"), i)))
    docs.filter(col("doc_id") % BenchmarkMod =!= 0)
      .unionAll(docs.filter(col("doc_id") % BenchmarkMod === 0)
        .select((col("doc_id") + ContaminatedShift).as("doc_id"),
          concat(filler, lit(" "), col("text")).as("text")))
  }

  def containmentLeakTrain(spark: SparkSession, dir: String): DataFrame =
    containmentLeakTrainOn(
      Tables(spark, dir).documents.select(col("doc_id"), col("text")))

  /** Containment decontamination: train docs holding ≥ τ of a benchmark
    * doc's distinct 3-gram shingles — the QUOTE-INCLUSION leak class both
    * C24 (corpus-wide overlap count, no per-pair normalization) and C32
    * (symmetric Jaccard, diluted by the host doc) underweight.
    *
    * Scale shape: the benchmark's (bench_id, shingle) set and its per-doc
    * sizes BROADCAST (a few MB of eval suite vs a multi-TB corpus); the
    * train corpus explodes its distinct shingles map-side into the
    * broadcast hash join, and the only exchange is the (train, bench) pair
    * partial-agg — cost O(actual shared shingles), never O(corpus²). All
    * inputs to the score are exact ints; containment is one IEEE division. */
  /** The benchmark's exploded distinct-shingle set — the broadcast side of
    * every containment probe (batch C62 and streaming B55 share it). */
  def containmentBenchShingles(bench: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    bench.select(col(idCol).as("bench_id"),
      explode(array_distinct(TextOps.shingles(col(textCol), n))).as("s"))
      .localCheckpoint(eager = true)

  /** Stage 1: per-(train, bench) shared-shingle counts — a stateless
    * map + broadcast join over the train side, then the pair partial-agg
    * (a streaming aggregation when `train` streams). */
  def containmentPairsOn(train: DataFrame, bsh: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    train
      .select(col(idCol).as("train_id"),
        explode(array_distinct(TextOps.shingles(col(textCol), n))).as("s"))
      .join(broadcast(bsh), "s")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))

  /** Stage 2: normalize by the bench doc's shingle count and gate on τ —
    * runs over the O(pairs) count table, never the corpus. */
  def containmentOf(pairs: DataFrame, bsh: DataFrame,
      tau: Double): DataFrame = {
    val bsz = bsh.groupBy(col("bench_id")).agg(count(lit(1)).as("bench_n"))
    pairs
      .join(broadcast(bsz), "bench_id")
      .filter(col("n_shared").cast("double") / col("bench_n") >= tau)
      .select(col("train_id"), col("bench_id"), col("n_shared"),
        col("bench_n"),
        (col("n_shared").cast("double") / col("bench_n"))
          .as("containment"))
      .orderBy(col("train_id"), col("bench_id"))
  }

  def decontaminateContainmentOn(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      tau: Double = ContainmentThreshold): DataFrame = {
    val bsh = containmentBenchShingles(bench, idCol, textCol, n)
    containmentOf(containmentPairsOn(train, bsh, idCol, textCol, n), bsh, tau)
  }

  def decontaminateContainment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    decontaminateContainmentOn(containmentLeakTrain(spark, dir),
      docs.filter(col("doc_id") % BenchmarkMod === 0), "doc_id", "text")
  }

  val decontaminateContainmentSql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % $BenchmarkMod <> 0
       |  UNION ALL
       |  SELECT doc_id + $ContaminatedShift,
       |         array_to_string(list_transform(
       |           range(0, $ContainmentPadTokens), i -> 'pad' || i), ' ')
       |           || ' ' || text AS text
       |  FROM documents WHERE doc_id % $BenchmarkMod = 0
       |), sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)-1),
       |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |        FROM corpus)
       |), bsh AS (
       |  SELECT doc_id AS bench_id, unnest(list_distinct(list_transform(
       |         range(1, len(toks)-1),
       |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |        FROM documents WHERE doc_id % $BenchmarkMod = 0)
       |), bsz AS (SELECT bench_id, COUNT(*) AS bench_n FROM bsh GROUP BY 1),
       |p AS (
       |  SELECT sh.doc_id AS train_id, bsh.bench_id, COUNT(*) AS n_shared
       |  FROM sh JOIN bsh USING (s) GROUP BY 1, 2)
       |SELECT train_id, bench_id, n_shared, bench_n,
       |  CAST(n_shared AS DOUBLE) / bench_n AS containment
       |FROM p JOIN bsz USING (bench_id)
       |WHERE CAST(n_shared AS DOUBLE) / bench_n >= $ContainmentThreshold
       |ORDER BY train_id, bench_id""".stripMargin

  // --- C25: BM25 corpus search ---------------------------------------------
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 10

  /** The canned keyword queries (query id → terms). Term scores sum in a
    * fixed decimal quantization so the per-document score is
    * order-independent and engine-identical. */
  val Bm25Queries: Seq[(String, Seq[String])] = Seq(
    "q_perf" -> Seq("fast", "spark", "vector"),
    "q_join" -> Seq("join", "merge", "hash"),
    "q_scan" -> Seq("scan", "filter"))

  /** Okapi BM25 top-k per query over the corpus: idf(t)·tf·(k1+1) /
    * (tf + k1·(1−b+b·dl/avgdl)), idf = ln((N−df+0.5)/(df+0.5)+1).
    * tf/df/dl are exact integers; avgdl is an exact decimal mean cast to
    * double; the float formula is written with IDENTICAL association in
    * both engines, and per-doc term scores accumulate via decimal(28,12)
    * so the sum is order-free. Ranking compares the decimal (exact). */
  def bm25SearchOn(documents: DataFrame, idCol: String, textCol: String,
      queries: Seq[(String, Seq[String])], topK: Int): DataFrame =
    bm25RankedOn(documents, idCol, textCol, queries, topK)
      .orderBy(col("query_id"), col("rank"))

  /** The ranked core without the presentation sort — reused by
    * `hybrid_search`, where the ranks feed the RRF fusion join and a sort
    * here would only be re-shuffled away. */
  def bm25RankedOn(documents: DataFrame, idCol: String, textCol: String,
      queries: Seq[(String, Seq[String])], topK: Int): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val docs = documents
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("bigint").as("dl"))
    // one corpus pass for the two global stats (exact: integer count,
    // integer-valued decimal sum)
    val stats = docs
      .agg(count(lit(1)).as("n"), Olap.exactSum(col("dl"), 6).as("s"))
      .head()
    val nDocs = stats.getLong(0)
    val avgdl = stats.getDecimal(1).doubleValue() / nDocs

    val terms = queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val occ = docs.select(col("doc_id"), col("dl"),
      explode(col("toks")).as("tok"))
    val tf = occ.join(broadcast(terms), occ("tok") === terms("term"))
      .groupBy(col("query_id"), col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val dfs = tf.select(col("term").as("t"), col("doc_id")).distinct()
      .groupBy(col("t")).agg(count(lit(1)).as("df"))

    val idf = log(
      (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val denom = col("tf").cast("double") +
      lit(Bm25K1) * (lit(1.0 - Bm25B) +
        (lit(Bm25B) * col("dl").cast("double")) / lit(avgdl))
    val termScore = idf * ((col("tf").cast("double") * lit(Bm25K1 + 1.0)) / denom)

    val scored = tf.join(broadcast(dfs), col("term") === col("t"))
      .withColumn("term_score", termScore)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score").cast("decimal(28,12)")).as("score_dec"),
        count(lit(1)).as("n_terms"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_dec").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("rank"),
        col("score_dec").cast("double").as("score"), col("n_terms"))
  }

  def bm25Search(spark: SparkSession, dir: String): DataFrame =
    bm25SearchOn(Tables(spark, dir).documents, "doc_id", "text",
      Bm25Queries, Bm25TopK)

  /** The BM25 CTE chain through `bm25ranked(query_id, doc_id, rank, score,
    * n_terms)` — shared verbatim by the C25 oracle and the hybrid-fusion
    * oracle so the lexical ranker cannot fork between them. */
  private[operators] val bm25Ctes: String = {
    val values = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => s"('$q', '$t')") }
      .mkString(", ")
    s"""dd AS (
       |  SELECT doc_id, toks, len(toks) AS dl
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |        FROM documents)
       |), stats AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |         CAST(SUM(CAST(dl AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS avgdl
       |  FROM dd
       |), terms(query_id, term) AS (VALUES $values),
       |occ AS (SELECT doc_id, dl, unnest(toks) AS tok FROM dd),
       |tf AS (
       |  SELECT query_id, term, doc_id, dl, COUNT(*) AS tf
       |  FROM occ JOIN terms ON tok = term GROUP BY 1, 2, 3, 4
       |), dfs AS (
       |  SELECT term, COUNT(*) AS df
       |  FROM (SELECT DISTINCT term, doc_id FROM tf) GROUP BY 1
       |), scored AS (
       |  SELECT query_id, doc_id,
       |    SUM(CAST(
       |      ln((n - df + 0.5) / (df + 0.5) + 1.0)
       |        * ((tf * ${Bm25K1 + 1.0}) /
       |           (tf + $Bm25K1 * (${1.0 - Bm25B} + ($Bm25B * dl) / avgdl)))
       |      AS DECIMAL(28,12))) AS score_dec,
       |    COUNT(*) AS n_terms
       |  FROM tf JOIN dfs USING (term) CROSS JOIN stats
       |  GROUP BY 1, 2
       |), bm25ranked AS (
       |  SELECT query_id, doc_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |                            ORDER BY score_dec DESC, doc_id) AS INT) AS rank,
       |    CAST(score_dec AS DOUBLE) AS score, n_terms
       |  FROM scored
       |  QUALIFY rank <= $Bm25TopK)""".stripMargin
  }

  val bm25SearchSql: String =
    s"""WITH $bm25Ctes
       |SELECT query_id, doc_id, rank, score, n_terms
       |FROM bm25ranked ORDER BY query_id, rank""".stripMargin

  // --- C26: deterministic sequence packing ---------------------------------
  /** Tokens per packed training sequence. Small for the synthetic corpus
    * (docs are ~30–60 words); 2048/4096/8192 at deployment — the plan shape
    * is budget-independent. */
  val PackBudget = 256L

  /** Concatenate-then-chunk sequence packing (the GPT-style pretraining
    * layout): documents are laid head-to-tail in a deterministic order and
    * chopped into [[PackBudget]]-token sequences. Each document's placement
    * is (shard, start_off) where the order inside a shard is (md5(doc_id),
    * doc_id) — so the layout is a pure function of doc ids: reshard-stable,
    * engine-identical, and auditable. Sharding by the first hash nibble
    * makes every shard an INDEPENDENT running-sum window — packing
    * parallelism scales with the shard count instead of serializing the
    * corpus through one global cumsum (the single-partition trap). */
  /** The packing core over any (doc_id, n_tokens) frame — the LENGTH
    * source is the caller's choice (whitespace for C26, the BPE-encoded
    * length for C65: the unit the trainer's data loader actually bills). */
  def packSequencesByLen(lengths: DataFrame, budget: Long): DataFrame = {
    val docs = lengths.select(col("doc_id"),
      col("n_tokens").cast("bigint").as("n_tokens"),
      md5(col("doc_id").cast("string")).as("h"))
      .withColumn("shard", substring(col("h"), 1, 1))
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        (sum(col("n_tokens")).over(w) - col("n_tokens")).as("start_off"))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("start_off"),
        (col("start_off") + col("n_tokens")).as("end_off"),
        expr(s"start_off div $budget").as("first_seq"),
        expr(s"(start_off + n_tokens - 1) div $budget").as("last_seq"))
      .orderBy(col("shard"), col("start_off"), col("doc_id"))
  }

  def packSequencesOn(documents: DataFrame, idCol: String, textCol: String,
      budget: Long): DataFrame =
    packSequencesByLen(
      documents.select(col(idCol).as("doc_id"),
        size(TextOps.tokens(col(textCol))).cast("bigint").as("n_tokens")),
      budget)

  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packSequencesOn(Tables(spark, dir).documents, "doc_id", "text", PackBudget)

  // --- C65: pack by ENCODED length (the trainer's billing unit) ------------
  /** C26's deterministic packing layout computed over the BPE-ENCODED
    * length from C60 instead of the whitespace count — the unit a
    * pretraining data loader actually consumes, so sequence boundaries
    * land where the trainer's token budget says, not where whitespace
    * approximates it. Same reshard-stable hash layout, same per-shard
    * independent cumsum; the length column rides out of the encode map
    * stage, so the composition adds ZERO exchanges over C26. */
  def packSequencesBpe(spark: SparkSession, dir: String): DataFrame = {
    // the UNSORTED encode core — C60's gate sort must not ride into the
    // packing plan as a third exchange
    val (enc, _) = bpeEncodeIdsOn(Tables(spark, dir).documents,
      "doc_id", "text", BpeRounds)
    packSequencesByLen(
      enc.select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens")),
      PackBudget)
  }

  /** Twin: the C60 encode chain as a derived table feeding C26's own
    * window replay. Lazy: [[bpeEncodeSql]] initializes later in this
    * object's declaration order. */
  lazy val packSequencesBpeSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |         md5(CAST(doc_id AS VARCHAR)) AS h
       |  FROM ($bpeEncodeSql)
       |), o AS (
       |  SELECT doc_id, substr(h, 1, 1) AS shard, n_tokens,
       |         SUM(n_tokens) OVER (PARTITION BY substr(h, 1, 1)
       |           ORDER BY h, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           - n_tokens AS start_off
       |  FROM t)
       |SELECT doc_id, shard, n_tokens, CAST(start_off AS BIGINT) AS start_off,
       |       CAST(start_off + n_tokens AS BIGINT) AS end_off,
       |       CAST(start_off // $PackBudget AS BIGINT) AS first_seq,
       |       CAST((start_off + n_tokens - 1) // $PackBudget AS BIGINT) AS last_seq
       |FROM o ORDER BY shard, start_off, doc_id""".stripMargin

  val packSequencesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |         md5(CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents
       |), o AS (
       |  SELECT doc_id, substr(h, 1, 1) AS shard, n_tokens,
       |         SUM(n_tokens) OVER (PARTITION BY substr(h, 1, 1)
       |           ORDER BY h, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           - n_tokens AS start_off
       |  FROM t)
       |SELECT doc_id, shard, n_tokens, CAST(start_off AS BIGINT) AS start_off,
       |       CAST(start_off + n_tokens AS BIGINT) AS end_off,
       |       CAST(start_off // $PackBudget AS BIGINT) AS first_seq,
       |       CAST((start_off + n_tokens - 1) // $PackBudget AS BIGINT) AS last_seq
       |FROM o ORDER BY shard, start_off, doc_id""".stripMargin

  // --- C71: best-fit (first-fit-decreasing) sequence packing ---------------
  /** FFD bin packing per shard — the OTHER pretraining layout: C26/C65
    * concatenate-then-chunk fills every sequence exactly but SPLITS
    * documents across boundaries (truncation / attention-mask churn the
    * trainer pays for); FFD keeps every document whole (a doc longer
    * than the budget gets its own bin — never split) at the cost of some
    * per-bin slack, the textbook 11/9·OPT+1 bound (Johnson 1973).
    *
    * Scale/determinism shape — the C26 contract exactly: docs are
    * md5-sharded (shard count is the parallelism/memory knob; the
    * sequential greedy runs per shard over ONE kernel call); the FFD
    * order inside a shard is (length desc, doc_id) — a pure function of
    * (doc_id, n_tokens), so the placement is reshard-stable and
    * engine-identical. One shard-key exchange + the gate sort. Oracle
    * replays the greedy one doc per recursion step carrying the bin-load
    * list — hash-checked. */
  def packBestfitByLen(lengths: DataFrame, budget: Long): DataFrame = {
    import graft.functions.textsketch.ffd_pack
    val docs = lengths.select(col("doc_id"),
      col("n_tokens").cast("bigint").as("n_tokens"),
      substring(md5(col("doc_id").cast("string")), 1, 1).as("shard"))
    docs.groupBy(col("shard"))
      // sort_array ascending on (negLen, docId) = FFD's (len desc, id asc)
      .agg(sort_array(collect_list(struct((-col("n_tokens")).as("nl"),
        col("doc_id")))).as("_d"))
      .select(col("shard"), explode(ffd_pack(col("_d"), budget)).as("_p"))
      .select(col("_p.doc_id").as("doc_id"), col("shard"),
        col("_p.n_tokens").as("n_tokens"), col("_p.bin").as("bin"),
        col("_p.bin_off").as("bin_off"))
      .orderBy(col("doc_id"))
  }

  def packBestfitOn(documents: DataFrame, idCol: String, textCol: String,
      budget: Long): DataFrame =
    packBestfitByLen(
      documents.select(col(idCol).as("doc_id"),
        size(TextOps.tokens(col(textCol))).cast("bigint").as("n_tokens")),
      budget)

  def packBestfit(spark: SparkSession, dir: String): DataFrame =
    packBestfitOn(Tables(spark, dir).documents, "doc_id", "text", PackBudget)

  /** Twin: the greedy replayed one document per recursion step; the
    * per-shard state is the list of bin USED masses, first fit = first
    * list position where used + len ≤ budget (list_position over the
    * fit-test booleans), update via the zip-with-index transform. All
    * shards advance in lockstep on the step counter. */
  val packBestfitSql: String =
    s"""WITH RECURSIVE t AS (
       |  SELECT doc_id,
       |         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard
       |  FROM documents
       |), s AS (
       |  SELECT doc_id, n_tokens, shard,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY shard
       |              ORDER BY n_tokens DESC, doc_id) AS INT) AS step
       |  FROM t
       |), r AS (
       |  SELECT shard, 0 AS step, CAST([] AS BIGINT[]) AS loads,
       |         CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_tokens,
       |         CAST(NULL AS INT) AS bin, CAST(NULL AS BIGINT) AS bin_off
       |  FROM (SELECT DISTINCT shard FROM s)
       |  UNION ALL
       |  SELECT shard, step,
       |    CASE WHEN pos IS NULL THEN list_append(loads, n_tokens)
       |         ELSE list_transform(list_zip(loads, range(1, len(loads) + 1)),
       |                p -> CASE WHEN p[2] = pos THEN p[1] + n_tokens
       |                     ELSE p[1] END)
       |    END AS loads,
       |    doc_id, n_tokens,
       |    CAST(CASE WHEN pos IS NULL THEN len(loads) + 1 ELSE pos END AS INT) AS bin,
       |    CASE WHEN pos IS NULL THEN 0 ELSE loads[pos] END AS bin_off
       |  FROM (
       |    SELECT s.shard, s.step, r.loads, s.doc_id, s.n_tokens,
       |      -- list_position yields 0 (not NULL) when nothing fits
       |      NULLIF(list_position(
       |        list_transform(r.loads, x -> x + s.n_tokens <= $PackBudget),
       |        true), 0) AS pos
       |    FROM r JOIN s ON s.shard = r.shard AND s.step = r.step + 1)
       |)
       |SELECT doc_id, shard, n_tokens, bin, CAST(bin_off AS BIGINT) AS bin_off
       |FROM r WHERE doc_id IS NOT NULL ORDER BY doc_id""".stripMargin

  // --- C27: incremental dedup (bloom-accelerated) --------------------------
  /** The arriving batch: exact copies of every 11th historical doc (true
    * cross-batch duplicates) plus every 13th doc with a novelty suffix
    * (genuinely new content). Deterministic, so the oracle rebuilds it. */
  /** The derivation over ANY (doc_id, text) frame — shared by the batch
    * query and the B53 stream twin (drain == batch depends on it). */
  def incrementalBatchOn(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 200000000L).as("doc_id"), col("text"))
      .unionAll(
        d.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 300000000L).as("doc_id"),
            concat(col("text"), lit(" fresh "),
              col("doc_id").cast("string")).as("text")))

  def incrementalBatch(spark: SparkSession, dir: String): DataFrame =
    incrementalBatchOn(
      Tables(spark, dir).documents.select(col("doc_id"), col("text")))

  /** Bloom sizing: estimated item count and bit width for the historical
    * hash set. At deploy scale size these to the history cardinality; the
    * plan shape (one mergeable agg + broadcast probe) is unchanged. */
  val BloomEstItems = 1L << 20
  val BloomNumBits = 1L << 22

  /** New-batch survivors after dedup against the HISTORICAL corpus. The
    * history never re-shuffles per batch: one Bloom aggregate over its
    * xxhash64(content) (mergeable partials — same machinery Spark's
    * runtime-filter injection uses), broadcast to the batch. Bloom
    * negatives are definitely new and skip the join entirely; only the
    * positive sliver (true dups + false positives) anti-joins history on
    * the FULL sha256 content hash, which also makes a 64-bit hash
    * collision harmless. Output is exact — the bloom only prunes. */
  def dedupIncrementalOn(history: DataFrame, batchDocs: DataFrame,
      idCol: String, textCol: String,
      bloomEstItems: Long = BloomEstItems,
      bloomNumBits: Long = BloomNumBits): DataFrame =
    dedupIncrementalWith(
      historyBloomOf(history, textCol, bloomEstItems, bloomNumBits),
      history, batchDocs, idCol, textCol)
      // the gate sort lives on the one-shot entry point only — recurring
      // callers (the B61 chain, per micro-batch) consume the survivors
      // through a join and must not pay a discarded per-batch sort
      .orderBy(col("doc_id"))

  /** History's bloom over xxhash64(content) — the broadcastable STATIC
    * side of incremental exact-dedup, factored out so a recurring caller
    * (the B61 admission chain's per-micro-batch gate) aggregates it ONCE,
    * not once per batch. Null when history is empty. */
  def historyBloomOf(history: DataFrame, textCol: String,
      bloomEstItems: Long = BloomEstItems,
      bloomNumBits: Long = BloomNumBits): Array[Byte] = {
    import GraftSqlBridge.{column, expression}
    history.select(col(textCol).as("text"))
      .select(column(new BloomFilterAggregate(
        expression(xxhash64(col("text"))),
        Literal(bloomEstItems), Literal(bloomNumBits), 0, 0)
        .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** The probe half of [[dedupIncrementalOn]] against a precomputed
    * history bloom — one spelling for the one-shot and recurring shapes
    * (unsorted; the one-shot entry point adds the gate sort). */
  def dedupIncrementalWith(bloomBytes: Array[Byte], history: DataFrame,
      batchDocs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import GraftSqlBridge.{column, expression}
    // an empty history aggregates to a NULL bloom: nothing can be a dup
    if (bloomBytes == null)
      return batchDocs
        .select(col(idCol).as("doc_id"), sha2(col(textCol), 256).as("content_hash"))

    val hist = history.select(col(textCol).as("text"))
    val batch = batchDocs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("maybe_dup", column(BloomFilterMightContain(
        expression(lit(bloomBytes)), expression(xxhash64(col("text"))))))
    val definitelyNew = batch.filter(!col("maybe_dup"))
    val verifiedNew = batch.filter(col("maybe_dup"))
      .withColumn("ch", sha2(col("text"), 256))
      .join(hist.select(sha2(col("text"), 256).as("ch")), Seq("ch"), "left_anti")
      .drop("ch")
    definitelyNew.unionByName(verifiedNew)
      .select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))
  }

  def dedupIncremental(spark: SparkSession, dir: String): DataFrame =
    dedupIncrementalOn(Tables(spark, dir).documents,
      incrementalBatch(spark, dir), "doc_id", "text")

  val dedupIncrementalSql: String =
    """WITH batch AS (
      |  SELECT doc_id + 200000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 11 = 0
      |  UNION ALL
      |  SELECT doc_id + 300000000,
      |         text || ' fresh ' || CAST(doc_id AS VARCHAR)
      |  FROM documents WHERE doc_id % 13 = 0)
      |SELECT doc_id, sha256(text) AS content_hash
      |FROM batch
      |WHERE sha256(text) NOT IN (SELECT sha256(text) FROM documents)
      |ORDER BY doc_id""".stripMargin

  // --- C29: per-domain document caps ---------------------------------------
  /** Max documents kept per source domain. */
  val DomainCap = 15

  /** Frequency capping per source domain (the C4/RefinedWeb-style "no
    * domain may dominate the corpus" rule): keep at most [[DomainCap]]
    * documents per `source`, chosen by content-hash order so the selection
    * is deterministic and reshard-stable.
    *
    * Scale shape: the per-domain selection is [[graft.functions.TopKByScore]]
    * — per-partition bounded heaps with mergeable partials — so the shuffle
    * carries O(domains × cap) rows, NOT the corpus (the window-function
    * formulation would shuffle and sort every document of a hot domain
    * through one partition; a heap never holds more than cap entries). */
  def domainCapsOn(documents: DataFrame, idCol: String, domainCol: String,
      cap: Int): DataFrame = {
    // first 12 md5 hex chars as a number: 48 bits — exact in double, and
    // numeric order == hex-string order, which is what the oracle sorts by
    val h48 = conv(substring(md5(concat(col(idCol).cast("string"),
      lit(":cap"))), 1, 12), 16, 10).cast("long")
    documents
      .select(col(domainCol).as("source"), col(idCol).as("doc_id"),
        h48.as("h48"))
      .groupBy(col("source"))
      .agg(graft.functions.topk.top_k_by_score(
        -col("h48").cast("double"), col("doc_id"), cap).as("_tk"))
      .select(col("source"), posexplode(col("_tk")))
      .select(col("source"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("int").as("cap_rank"))
      .orderBy(col("source"), col("cap_rank"))
  }

  def domainCaps(spark: SparkSession, dir: String): DataFrame =
    domainCapsOn(Tables(spark, dir).documents, "doc_id", "source", DomainCap)

  val domainCapsSql: String =
    s"""SELECT source, doc_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY source
       |       ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':cap'), 1, 12),
       |                doc_id) AS INT) AS cap_rank
       |FROM documents
       |QUALIFY cap_rank <= $DomainCap
       |ORDER BY source, cap_rank""".stripMargin

  // --- C30: token-budget mixture sampling ----------------------------------
  /** Budget as a fraction of total corpus tokens: num/den (1/2 = keep half
    * the tokens, split equally across sources). */
  val MixBudgetNum = 1L
  val MixBudgetDen = 2L

  /** Data-mixing downsampler: give every source an equal share of a global
    * token budget ([[MixBudgetNum]]/[[MixBudgetDen]] of the corpus), derive
    * each source's keep RATE from its actual token mass, and select
    * documents with the same md5-prefix threshold rule as C22 — so an
    * over-represented source is downsampled hard while a rare one keeps
    * everything. All threshold arithmetic is integer (floor division of
    * exact token counts), so membership is engine-identical and
    * reshard-stable.
    *
    * Scale shape: one partial-agg pass for per-source token masses (tiny —
    * O(domains) rows, broadcast back), then a pure map filter over the
    * corpus. The two driver scalars (total mass, source count) are the same
    * bounded collect the BM25 stats use. */
  def corpusMixtureOn(documents: DataFrame, idCol: String, domainCol: String,
      textCol: String, budgetNum: Long, budgetDen: Long): DataFrame = {
    val docs = documents
      .select(col(idCol).as("doc_id"), col(domainCol).as("source"),
        size(TextOps.tokens(col(textCol))).cast("bigint").as("n_tokens"),
        conv(substring(md5(concat(col(idCol).cast("string"), lit(":mix"))),
          1, 4), 16, 10).cast("int").as("h16"))
    val bySrc = docs.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
    val tot = bySrc.agg(sum(col("src_tokens")), count(lit(1))).head()
    val (totTokens, nSrc) = (tot.getLong(0), tot.getLong(1))
    val thr = bySrc.select(col("source"),
      least(lit(65536L),
        expr(s"(${65536L * budgetNum} * ${totTokens}L) div " +
          s"(${budgetDen * nSrc}L * src_tokens)")).as("thr"))
    docs.join(broadcast(thr), "source")
      .filter(col("h16") < col("thr"))
      .select(col("doc_id"), col("source"), col("thr").cast("int").as("thr"))
      .orderBy(col("doc_id"))
  }

  def corpusMixture(spark: SparkSession, dir: String): DataFrame =
    corpusMixtureOn(Tables(spark, dir).documents, "doc_id", "source", "text",
      MixBudgetNum, MixBudgetDen)

  // --- C84: temperature-scaled mixture sampling ----------------------------
  /** Temperature exponent α (textual — both engines parse the identical
    * IEEE double) and the token budget as a fraction of the corpus. */
  val MixTempAlphaSql = "0.3"
  val MixTempNum = 1L
  val MixTempDen = 2L

  /** Temperature-scaled source sampling (Conneau & Lample 2019; the
    * mT5/XLM-R multilingual recipe): sources draw tokens ∝ p_i^α of
    * their natural share p_i, so low-resource sources are UPSAMPLED
    * toward (never past) parity — the knob between "head domains drown
    * the tail" (α=1, C29's natural-share shape) and "uniform over
    * sources" (α=0). Inclusion per doc is the C29 md5-threshold gate
    * under a `:tmix` salt (independent of C29's draw), so the sample is
    * a pure function of doc ids.
    *
    * Parity: the ONLY transcendental is one exp(α·ln p_i) per source,
    * floor-quantized to a micro-weight integer immediately (~2-ulp error
    * against a 1e6 grid — the ln-parity window); the normalizer is an
    * exact INTEGER sum of those micro-weights (order-free, unlike a
    * float Σ), and each threshold is integer arithmetic from there.
    * Thresholds cap at 65536 — a source whose temperature share exceeds
    * its corpus mass samples everything once (epoch repetition is a
    * separate knob). Long arithmetic holds to ~10⁸-token corpora
    * (65536·1e6·budget < 2^63); at deploy scale the same chain runs in
    * DECIMAL. Scale shape: one per-source agg, a driver-bounded weight
    * table, one broadcast join + filter — 2-exchange budget pinned. */
  /** The C84/C85 shared front: docs with the `:tmix` salted gate hash. */
  private def tmixDocsOf(documents: DataFrame, idCol: String,
      domainCol: String, textCol: String): DataFrame =
    documents
      .select(col(idCol).as("doc_id"), col(domainCol).as("source"),
        size(TextOps.tokens(col(textCol))).cast("bigint").as("n_tokens"),
        conv(substring(md5(concat(col(idCol).cast("string"), lit(":tmix"))),
          1, 4), 16, 10).cast("int").as("h16"))

  /** The C84/C85 shared temperature model: per-source micro-weight table
    * (driver-bounded, checkpointed) + the exact-integer normalizer + the
    * corpus token total — one weight spelling for the sampler and the
    * epoch planner. */
  private def tmixWeightsOf(docs: DataFrame): (DataFrame, Long, Long) = {
    val bySrc = docs.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
      .localCheckpoint(eager = true)
    val totTokens = bySrc.agg(coalesce(sum(col("src_tokens")), lit(0L)))
      .head().getLong(0)
    val w = bySrc.select(col("source"), col("src_tokens"),
      expr(s"CAST(floor(exp($MixTempAlphaSql * " +
        s"ln(CAST(src_tokens AS DOUBLE) / ${totTokens}L)) * 1e6) AS BIGINT)")
        .as("wq"))
      .localCheckpoint(eager = true)
    val zq = w.agg(coalesce(sum(col("wq")), lit(0L))).head().getLong(0)
    (w, zq, totTokens)
  }

  def mixtureTemperatureOn(documents: DataFrame, idCol: String,
      domainCol: String, textCol: String, budgetNum: Long,
      budgetDen: Long): DataFrame = {
    val docs = tmixDocsOf(documents, idCol, domainCol, textCol)
    val (w, zq, totTokens) = tmixWeightsOf(docs)
    val budget = totTokens * budgetNum / budgetDen
    val thr = w.select(col("source"),
      least(lit(65536L),
        expr(s"(65536L * wq * ${budget}L) div (${zq}L * src_tokens)"))
        .as("thr"))
    docs.join(broadcast(thr), "source")
      .filter(col("h16") < col("thr"))
      .select(col("doc_id"), col("source"), col("thr").cast("int").as("thr"))
      .orderBy(col("doc_id"))
  }

  def mixtureTemperature(spark: SparkSession, dir: String): DataFrame =
    mixtureTemperatureOn(Tables(spark, dir).documents, "doc_id", "source",
      "text", MixTempNum, MixTempDen)

  /** The C84/C85 shared CTE prefix — one weight spelling for both
    * twins. */
  private def tmixCtes: String =
    s"""d AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |    ${hex4Sql(s"substr(md5(CAST(doc_id AS VARCHAR) || ':tmix'), 1, 4)")} AS h16
       |  FROM documents
       |), s AS (
       |  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
       |  FROM d GROUP BY 1
       |), t AS (
       |  SELECT CAST(SUM(src_tokens) AS BIGINT) AS tot FROM s
       |), w AS (
       |  SELECT source, src_tokens,
       |    CAST(floor(exp($MixTempAlphaSql *
       |      ln(CAST(src_tokens AS DOUBLE) / tot)) * 1e6) AS BIGINT) AS wq
       |  FROM s CROSS JOIN t
       |), z AS (
       |  SELECT CAST(SUM(wq) AS BIGINT) AS zq FROM w
       |)""".stripMargin

  /** Twin: same share → micro-weight quantization, integer normalizer,
    * integer thresholds, same salted gate. */
  val mixtureTemperatureSql: String =
    s"""WITH $tmixCtes,
       |thr AS (
       |  SELECT source,
       |    LEAST(65536, (65536 * wq * ((tot * $MixTempNum) // $MixTempDen))
       |      // (zq * src_tokens)) AS thr
       |  FROM w CROSS JOIN z CROSS JOIN t)
       |SELECT d.doc_id, d.source, CAST(thr AS INT) AS thr
       |FROM d JOIN thr USING (source)
       |WHERE h16 < thr
       |ORDER BY d.doc_id""".stripMargin

  // --- C85: epoch/repetition planner ---------------------------------------
  /** Repetition ceiling — data-constrained scaling holds returns through
    * ~4 epochs of repeated data (Muennighoff et al., NeurIPS'23). */
  val MaxEpochs = 4L

  /** Canned token budget for the C85 entry point, as a fraction of the
    * corpus: 3×/1 — ABOVE the corpus so upsampled sources genuinely
    * repeat and both the full-epoch and remainder paths are exercised.
    * Spliced into BOTH the Scala entry and the SQL twin (the C84
    * MixTempNum/Den pattern) so a budget change cannot desync the
    * oracle pair. */
  val EpochBudgetNum = 3L
  val EpochBudgetDen = 1L

  /** The EPOCH PLAN the temperature mixture implies: C84 samples within
    * one pass over each source, but a source whose temperature share
    * EXCEEDS its mass must repeat — this planner turns the same
    * micro-weight model into per-source (target_tokens, full_epochs,
    * remainder threshold, capped epochs): full passes + a fractional
    * last epoch selected by the same md5 gate, with the repetition
    * ceiling of [[MaxEpochs]]. Everything after the shared micro-weight
    * quantization is INTEGER arithmetic — the plan is engine-exact by
    * construction. O(sources) output; 1-exchange budget pinned. */
  def epochPlanOn(documents: DataFrame, idCol: String, domainCol: String,
      textCol: String, budgetNum: Long, budgetDen: Long): DataFrame = {
    val docs = tmixDocsOf(documents, idCol, domainCol, textCol)
    val (w, zq, totTokens) = tmixWeightsOf(docs)
    val budget = totTokens * budgetNum / budgetDen
    w.select(col("source"), col("src_tokens"),
        expr(s"(wq * ${budget}L) div ${zq}L").as("target_tokens"))
      .select(col("source"), col("src_tokens"), col("target_tokens"),
        expr("target_tokens div src_tokens").as("full_epochs"),
        // the EXECUTED plan stays coherent when the cap binds: a capped
        // source runs exactly MaxEpochs full passes and NO fractional
        // pass — a remainder derived from the uncapped target would make
        // (epochs_capped, rem_thr) execute past the ceiling
        when(expr("target_tokens div src_tokens") >= MaxEpochs, lit(0L))
          .otherwise(least(lit(65536L), expr(
            "(65536L * (target_tokens % src_tokens)) div src_tokens")))
          .cast("int").as("rem_thr"))
      .select(col("source"), col("src_tokens"), col("target_tokens"),
        col("full_epochs"),
        least(col("full_epochs"), lit(MaxEpochs)).as("epochs_capped"),
        col("rem_thr"))
      .orderBy(col("source"))
  }

  def epochPlan(spark: SparkSession, dir: String): DataFrame =
    epochPlanOn(Tables(spark, dir).documents, "doc_id", "source", "text",
      EpochBudgetNum, EpochBudgetDen)

  /** Twin: the shared weight CTEs, then integer plan arithmetic. */
  val epochPlanSql: String =
    s"""WITH $tmixCtes,
       |tgt AS (
       |  SELECT source, src_tokens,
       |    (wq * ((tot * $EpochBudgetNum) // $EpochBudgetDen)) // zq AS target_tokens
       |  FROM w CROSS JOIN z CROSS JOIN t)
       |SELECT source, src_tokens, target_tokens,
       |  target_tokens // src_tokens AS full_epochs,
       |  LEAST(CAST(target_tokens // src_tokens AS BIGINT), $MaxEpochs)
       |    AS epochs_capped,
       |  CAST(CASE WHEN target_tokens // src_tokens >= $MaxEpochs THEN 0
       |       ELSE LEAST(65536, (65536 * (target_tokens % src_tokens))
       |         // src_tokens) END AS INT) AS rem_thr
       |FROM tgt
       |ORDER BY source""".stripMargin

  /** 4-hex-char positional parse (the md5-prefix → integer idiom). */
  private[operators] def hex4Sql(m: String): String =
    (1 to 4).map(i =>
      s"(strpos('0123456789abcdef', substr($m, $i, 1)) - 1) * ${1 << (4 * (4 - i))}")
      .mkString(" + ")

  val corpusMixtureSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |    ${hex4Sql(s"substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 4)")} AS h16
       |  FROM documents
       |), s AS (
       |  SELECT source, SUM(n_tokens) AS src_tokens FROM d GROUP BY 1
       |), t AS (
       |  SELECT SUM(src_tokens) AS tot, COUNT(*) AS n FROM s
       |), thr AS (
       |  SELECT source,
       |    LEAST(65536, ($MixBudgetNum * 65536 * tot) // ($MixBudgetDen * n * src_tokens)) AS thr
       |  FROM s CROSS JOIN t)
       |SELECT d.doc_id, d.source, CAST(thr AS INT) AS thr
       |FROM d JOIN thr USING (source)
       |WHERE h16 < thr
       |ORDER BY d.doc_id""".stripMargin

  // --- C31: unigram-LM quality signal (CCNet-style) ------------------------
  /** Cross-entropy buckets: documents whose token distribution diverges
    * from the corpus LM land in high buckets. */
  val LmBucketMax = 9

  /** LM vocabulary bound: top-K tokens by (count desc, token) keep their
    * exact counts; everything else collapses into one OOV bin carrying the
    * residual mass. K=24 is BELOW the test corpus' 31-token vocabulary on
    * purpose, so the OOV backoff path is exercised — and oracle-checked —
    * at every gate scale; at deploy scale K is the usual 10⁵–10⁶. */
  val UnigramVocabK = 24

  /** Bounded LM table: top-K vocabulary (DataFrame, never collected), the
    * total token count N, and the OOV bin count (≥1 so ln stays finite). */
  private[graft] case class LmVocab(vocab: DataFrame, n: Long, oovCnt: Long)

  /** Trains the bounded unigram table. The full count table is a staging
    * product that lives DISTRIBUTED (checkpointed, never collected); only
    * two scalars (N, kept mass) come back to the driver, and the top-K cut
    * is a total order (count desc, token) so both engines slice
    * identically. */
  private[graft] def lmVocabOf(docs: DataFrame): LmVocab = {
    val counts = docs.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = true)
    val n = counts.agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
    val vocab = counts.orderBy(col("cnt").desc, col("tok"))
      .limit(UnigramVocabK).localCheckpoint(eager = true)
    val kept = vocab.agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
    LmVocab(vocab, n, math.max(n - kept, 1L))
  }

  /** Per-document cross-entropy under a unigram LM trained on the corpus
    * itself (the CCNet quality-scoring shape, with the corpus standing in
    * for the reference LM). One vocabulary aggregation trains the LM; the
    * BOUNDED top-K table then broadcast-joins onto the token stream (OOV
    * tokens back off to the shared OOV bin), and the per-doc rollup's
    * shuffle is one partially-aggregated row per document — the corpus
    * itself never shuffles.
    *
    * Parity: each token's -ln p term is floor-quantized to integer
    * picounats (`floor(x*1e12)`), summed exactly (order-free), and only
    * the final division runs in IEEE double — so both engines emit the
    * identical bits despite ln() being a libm call (same doubles in, same
    * correctly-rounded arithmetic after). */
  def unigramLogprobOn(documents: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val docs = documents.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    unigramLogprobWith(lmVocabOf(docs), documents, idCol, textCol)
      .orderBy(col("doc_id"))
  }

  /** The scoring pass alone, under a FROZEN bounded LM — no training:
    * the recurring-caller shape (B66 scores arriving docs under the
    * corpus-trained vocabulary — the nbScore/unigramEncodeWith
    * discipline). Keeps the one-shot entry's gate sort (its oracle
    * orders). */
  private[graft] def unigramLogprobWith(lm: LmVocab, documents: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val docs = documents.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    docs.select(col("doc_id"), explode(col("toks")).as("tok"))
      .join(broadcast(lm.vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(
        sum(expr(s"CAST(floor((ln(CAST(${lm.n} AS DOUBLE)) - " +
          s"ln(CAST(coalesce(cnt, ${lm.oovCnt}L) AS DOUBLE))) * 1e12) AS BIGINT)"))
          .as("_sq"),
        count(lit(1)).cast("int").as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (col("_sq").cast("double") / lit(1e12) / col("n_tokens").cast("double"))
          .as("cross_entropy"))
      .withColumn("ppl_bucket",
        least(lit(LmBucketMax), floor(col("cross_entropy"))).cast("int"))
  }

  def unigramLogprob(spark: SparkSession, dir: String): DataFrame =
    unigramLogprobOn(Tables(spark, dir).documents, "doc_id", "text")

  /** Shared CTE block: full unigram counts → N → top-K cut → OOV bin.
    * Reused by the unigram and bigram oracles so both mirror the engine's
    * single bounded-vocab definition. */
  private def lmVocabCtes: String =
    s"""allv AS (
       |  SELECT tok, COUNT(*) AS cnt
       |  FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY 1
       |), n AS (SELECT SUM(cnt) AS n FROM allv),
       |v AS (SELECT tok, cnt FROM allv ORDER BY cnt DESC, tok LIMIT $UnigramVocabK),
       |oov AS (
       |  SELECT GREATEST(n.n - (SELECT COALESCE(SUM(cnt), 0) FROM v), 1) AS oovc
       |  FROM n)""".stripMargin

  val unigramLogprobSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |), $lmVocabCtes,
       |terms AS (SELECT doc_id, unnest(toks) AS tok FROM d),
       |s AS (
       |  SELECT doc_id,
       |    CAST(SUM(CAST(floor((ln(CAST(n AS DOUBLE)) - ln(CAST(COALESCE(v.cnt, oovc) AS DOUBLE))) * 1e12) AS BIGINT)) AS BIGINT) AS sq,
       |    COUNT(*) AS nt
       |  FROM terms LEFT JOIN v USING (tok) CROSS JOIN n CROSS JOIN oov GROUP BY 1)
       |SELECT d.doc_id, CAST(nt AS INT) AS n_tokens,
       |  CAST(sq AS DOUBLE) / 1e12 / CAST(nt AS DOUBLE) AS cross_entropy,
       |  CAST(LEAST($LmBucketMax, floor(CAST(sq AS DOUBLE) / 1e12 / CAST(nt AS DOUBLE))) AS INT) AS ppl_bucket
       |FROM d JOIN s USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // --- C49: bigram-LM quality signal (interpolated backoff) ----------------
  /** Bigram table bound: at deploy scale the table is the top-K bigrams
    * (long tail backs off to the unigram term anyway); both engines cut
    * with the same deterministic (count desc, a, b) order. */
  val BigramK = 50000
  val BigramLambda = "0.9" // textual so both engines parse identical doubles

  /** Quantization grid for the INTERPOLATED LM terms (C49/C51): micro-nats,
    * not C31's pico-nats. The ln-parity argument ("same doubles in → same
    * out") is only ~1-ulp tight — JVM `Math.log` and libm `log` are each
    * allowed sub-ulp error, and an interpolated p (a 2–3-term IEEE sum)
    * ranges over a wide input set, so some term eventually lands within an
    * ulp of a floor boundary (observed at sf0.1: one trigram term hit an
    * EXACT pico-nat integer in libm). At 1e6 the flip window per divergent
    * input shrinks from ~4e-4 to ~4e-10 — negligible at any corpus scale —
    * while ce keeps ~1e-6-nat resolution, far finer than the integer
    * buckets the signal feeds. C31 stays pico: its ln inputs are the ≤K+1
    * distinct vocabulary counts, a domain small enough to audit. */
  val LmQuantum = "1e6"

  /** Per-document cross-entropy under an interpolated bigram LM
    * (p = λ·c(ab)/c(a) + (1−λ)·c(b)/N) trained on the corpus itself — the
    * CCNet quality signal with one more order of context than C31: a doc
    * of real phrases scores low even when its unigrams are common, word
    * salad scores high even when every word is frequent.
    *
    * Scale shape: one unigram agg + one bigram agg train the LM; BOTH
    * tables are bounded (top-$BigramK bigrams; top-$UnigramVocabK vocab
    * with an OOV backoff bin — the C31 cut, shared) before they broadcast
    * onto the adjacency stream (three broadcast joins, zero corpus
    * shuffles before the per-doc rollup). Parity: the C31 ln trick — each
    * pair's −ln p is floor-quantized to integer MICRO-nats
    * ([[LmQuantum]] — see its scaladoc for why interpolated LMs quantize
    * three orders coarser than C31) and summed exactly; p itself is the
    * same textual IEEE formula in both engines. */
  def bigramLogprobOn(documents: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val docs = documents.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val lm = lmVocabOf(docs)
    val pairs = docs.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"))
        .as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val bi = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      .orderBy(col("cab").desc, col("a"), col("b")).limit(BigramK)
      .localCheckpoint(eager = true)
    val lam = BigramLambda
    val term = s"CAST(floor(-ln($lam * CAST(coalesce(cab, 0) AS DOUBLE) " +
      s"/ CAST(coalesce(ca, ${lm.oovCnt}L) AS DOUBLE) " +
      s"+ (1 - $lam) * CAST(coalesce(cb, ${lm.oovCnt}L) AS DOUBLE) " +
      s"/ CAST(${lm.n} AS DOUBLE)) * $LmQuantum) AS BIGINT)"
    pairs
      .join(broadcast(bi), Seq("a", "b"), "left")
      .join(broadcast(lm.vocab.select(col("tok").as("a"), col("cnt").as("ca"))),
        Seq("a"), "left")
      .join(broadcast(lm.vocab.select(col("tok").as("b"), col("cnt").as("cb"))),
        Seq("b"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(expr(term)).as("_sq"), count(lit(1)).as("n_pairs"))
      .select(col("doc_id"), col("n_pairs"),
        (col("_sq").cast("double") / lit(LmQuantum.toDouble) / col("n_pairs").cast("double"))
          .as("cross_entropy"))
      .withColumn("ppl_bucket",
        least(lit(LmBucketMax), floor(col("cross_entropy"))).cast("int"))
      .orderBy(col("doc_id"))
  }

  def bigramLogprob(spark: SparkSession, dir: String): DataFrame =
    bigramLogprobOn(Tables(spark, dir).documents, "doc_id", "text")

  val bigramLogprobSql: String = {
    val lam = BigramLambda
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |), $lmVocabCtes,
       |dp AS (
       |  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
       |  FROM d, unnest(range(1, len(toks))) t(i)
       |  WHERE len(toks) >= 2
       |), bi AS (
       |  SELECT a, b, COUNT(*) AS cab FROM dp GROUP BY 1, 2
       |  ORDER BY cab DESC, a, b LIMIT $BigramK
       |), s AS (
       |  SELECT doc_id,
       |    SUM(CAST(floor(-ln($lam * CAST(COALESCE(cab, 0) AS DOUBLE)
       |      / CAST(COALESCE(ua.cnt, oovc) AS DOUBLE)
       |      + (1 - $lam) * CAST(COALESCE(ub.cnt, oovc) AS DOUBLE)
       |      / CAST(n.n AS DOUBLE)) * $LmQuantum) AS BIGINT)) AS sq,
       |    COUNT(*) AS np
       |  FROM dp
       |  LEFT JOIN bi USING (a, b)
       |  LEFT JOIN v ua ON ua.tok = dp.a
       |  LEFT JOIN v ub ON ub.tok = dp.b
       |  CROSS JOIN n
       |  CROSS JOIN oov
       |  GROUP BY 1)
       |SELECT doc_id, CAST(np AS BIGINT) AS n_pairs,
       |  CAST(sq AS DOUBLE) / $LmQuantum / CAST(np AS DOUBLE) AS cross_entropy,
       |  CAST(LEAST($LmBucketMax,
       |       floor(CAST(sq AS DOUBLE) / $LmQuantum / CAST(np AS DOUBLE))) AS INT)
       |    AS ppl_bucket
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // --- C51: trigram-LM quality signal (interpolated backoff) ---------------
  /** Trigram table bound (same discipline as [[BigramK]]) and the
    * interpolation weights — textual so both engines parse the identical
    * IEEE doubles. λ3 applies only when the context bigram survived its
    * own top-K cut (else the trigram term backs off to zero — standard
    * Katz-style "unseen context" handling, made deterministic by the
    * shared cut). */
  val TrigramK = 50000
  val TriL3 = "0.6"
  val TriL2 = "0.3"
  val TriL1 = "0.1"

  /** Per-document cross-entropy under an interpolated trigram LM
    * (p(c|a,b) = λ3·c(abc)/c(ab) + λ2·c(bc)/c(b) + λ1·c(c)/N) — one more
    * order of context than C49: detects documents whose word PAIRS are
    * plausible but whose three-token sequences are not (shuffled-sentence
    * spam, template stitching).
    *
    * Scale shape: three bounded LM tables (top-[[TrigramK]] trigrams,
    * top-[[BigramK]] bigrams used for BOTH the (a,b) context and the
    * (b,c) continuation, the shared C31 unigram cut) broadcast onto the
    * triple adjacency stream — four broadcast joins, zero corpus shuffles
    * before the one per-doc rollup. Parity: the C49 micro-nat floor
    * ([[LmQuantum]] — the interpolated-LM quantum). */
  def trigramLogprobOn(documents: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val docs = documents.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val lm = lmVocabOf(docs)
    val pairs = docs.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val bi = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      .orderBy(col("cab").desc, col("a"), col("b")).limit(BigramK)
      .localCheckpoint(eager = true)
    val triples = docs.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 2), " +
          "i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b, " +
          "element_at(toks, i + 2) AS c))")).as("t"))
      .select(col("doc_id"), col("t.a").as("a"), col("t.b").as("b"),
        col("t.c").as("c"))
    val tri = triples.groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("cabc"))
      .orderBy(col("cabc").desc, col("a"), col("b"), col("c")).limit(TrigramK)
      .localCheckpoint(eager = true)
    val term = s"CAST(floor(-ln(" +
      s"(CASE WHEN cab IS NULL THEN CAST(0 AS DOUBLE) " +
      s"ELSE $TriL3 * CAST(coalesce(cabc, 0) AS DOUBLE) / CAST(cab AS DOUBLE) END) " +
      s"+ $TriL2 * CAST(coalesce(cbc, 0) AS DOUBLE) / CAST(coalesce(cb, ${lm.oovCnt}L) AS DOUBLE) " +
      s"+ $TriL1 * CAST(coalesce(cc, ${lm.oovCnt}L) AS DOUBLE) / CAST(${lm.n} AS DOUBLE)" +
      s") * $LmQuantum) AS BIGINT)"
    triples
      .join(broadcast(tri), Seq("a", "b", "c"), "left")
      .join(broadcast(bi), Seq("a", "b"), "left")
      .join(broadcast(bi.select(col("a").as("b"), col("b").as("c"),
        col("cab").as("cbc"))), Seq("b", "c"), "left")
      .join(broadcast(lm.vocab.select(col("tok").as("b"), col("cnt").as("cb"))),
        Seq("b"), "left")
      .join(broadcast(lm.vocab.select(col("tok").as("c"), col("cnt").as("cc"))),
        Seq("c"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(expr(term)).as("_sq"), count(lit(1)).as("n_triples"))
      .select(col("doc_id"), col("n_triples"),
        (col("_sq").cast("double") / lit(LmQuantum.toDouble) / col("n_triples").cast("double"))
          .as("cross_entropy"))
      .withColumn("ppl_bucket",
        least(lit(LmBucketMax), floor(col("cross_entropy"))).cast("int"))
      .orderBy(col("doc_id"))
  }

  def trigramLogprob(spark: SparkSession, dir: String): DataFrame =
    trigramLogprobOn(Tables(spark, dir).documents, "doc_id", "text")

  val trigramLogprobSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |), $lmVocabCtes,
       |dp AS (
       |  SELECT toks[i] AS a, toks[i + 1] AS b
       |  FROM d, unnest(range(1, len(toks))) t(i)
       |  WHERE len(toks) >= 2
       |), bi AS (
       |  SELECT a, b, COUNT(*) AS cab FROM dp GROUP BY 1, 2
       |  ORDER BY cab DESC, a, b LIMIT $BigramK
       |), dt AS (
       |  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b, toks[i + 2] AS c
       |  FROM d, unnest(range(1, len(toks) - 1)) t(i)
       |  WHERE len(toks) >= 3
       |), tri AS (
       |  SELECT a, b, c, COUNT(*) AS cabc FROM dt GROUP BY 1, 2, 3
       |  ORDER BY cabc DESC, a, b, c LIMIT $TrigramK
       |), s AS (
       |  SELECT doc_id,
       |    SUM(CAST(floor(-ln(
       |      (CASE WHEN ab.cab IS NULL THEN CAST(0 AS DOUBLE)
       |            ELSE $TriL3 * CAST(COALESCE(tri.cabc, 0) AS DOUBLE)
       |                 / CAST(ab.cab AS DOUBLE) END)
       |      + $TriL2 * CAST(COALESCE(bc.cab, 0) AS DOUBLE)
       |        / CAST(COALESCE(ub.cnt, oovc) AS DOUBLE)
       |      + $TriL1 * CAST(COALESCE(uc.cnt, oovc) AS DOUBLE)
       |        / CAST(n.n AS DOUBLE)
       |    ) * $LmQuantum) AS BIGINT)) AS sq,
       |    COUNT(*) AS nt
       |  FROM dt
       |  LEFT JOIN tri USING (a, b, c)
       |  LEFT JOIN bi ab ON ab.a = dt.a AND ab.b = dt.b
       |  LEFT JOIN bi bc ON bc.a = dt.b AND bc.b = dt.c
       |  LEFT JOIN v ub ON ub.tok = dt.b
       |  LEFT JOIN v uc ON uc.tok = dt.c
       |  CROSS JOIN n
       |  CROSS JOIN oov
       |  GROUP BY 1)
       |SELECT doc_id, CAST(nt AS BIGINT) AS n_triples,
       |  CAST(sq AS DOUBLE) / $LmQuantum / CAST(nt AS DOUBLE) AS cross_entropy,
       |  CAST(LEAST($LmBucketMax,
       |       floor(CAST(sq AS DOUBLE) / $LmQuantum / CAST(nt AS DOUBLE))) AS INT)
       |    AS ppl_bucket
       |FROM s ORDER BY doc_id""".stripMargin

  // --- C57: 4-gram-LM quality signal (interpolated backoff) -----------------
  /** 4-gram table bound (the [[BigramK]]/[[TrigramK]] discipline one order
    * up) and the interpolation weights — textual so both engines parse the
    * identical IEEE doubles. As in C51, each higher-order λ applies only
    * when its CONTEXT n-gram survived its own top-K cut (else that term
    * backs off to zero — Katz-style "unseen context", made deterministic
    * by the shared cuts). */
  val FourgramK = 50000
  val QuadL4 = "0.5"
  val QuadL3 = "0.25"
  val QuadL2 = "0.15"
  val QuadL1 = "0.1"

  /** Per-document cross-entropy under an interpolated 4-gram LM
    * (p(d|a,b,c) = λ4·c(abcd)/c(abc) + λ3·c(bcd)/c(bc) + λ2·c(cd)/c(c)
    * + λ1·c(d)/N) — the C51 chain extended one order: catches documents
    * whose three-token windows are individually plausible but whose
    * four-token sequences are stitched (the templating/spam signature one
    * order past trigram reach).
    *
    * Scale shape: four bounded LM tables (top-[[FourgramK]] 4-grams,
    * top-[[TrigramK]] trigrams serving BOTH the (a,b,c) context and the
    * (b,c,d) continuation, top-[[BigramK]] bigrams for (b,c) and (c,d),
    * the shared C31 unigram cut) broadcast onto the quad adjacency stream
    * — seven broadcast joins, zero corpus shuffles before the one per-doc
    * rollup. The shuffles that do exist carry O(distinct n-grams) after
    * map-side combine, exactly C51's budget plus one counting agg. Parity:
    * the C49/C51 micro-nat floor ([[LmQuantum]]). */
  def fourgramLogprobOn(documents: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val docs = documents.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val lm = lmVocabOf(docs)
    val pairs = docs.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val bi = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      .orderBy(col("cab").desc, col("a"), col("b")).limit(BigramK)
      .localCheckpoint(eager = true)
    val triples = docs.filter(size(col("toks")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 2), " +
          "i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b, " +
          "element_at(toks, i + 2) AS c))")).as("t"))
      .select(col("t.a").as("a"), col("t.b").as("b"), col("t.c").as("c"))
    val tri = triples.groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("cabc"))
      .orderBy(col("cabc").desc, col("a"), col("b"), col("c")).limit(TrigramK)
      .localCheckpoint(eager = true)
    val quads = docs.filter(size(col("toks")) >= 4)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 3), " +
          "i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b, " +
          "element_at(toks, i + 2) AS c, element_at(toks, i + 3) AS d))"))
        .as("q"))
      .select(col("doc_id"), col("q.a").as("a"), col("q.b").as("b"),
        col("q.c").as("c"), col("q.d").as("d"))
    val quad = quads.groupBy(col("a"), col("b"), col("c"), col("d"))
      .agg(count(lit(1)).as("cabcd"))
      .orderBy(col("cabcd").desc, col("a"), col("b"), col("c"), col("d"))
      .limit(FourgramK)
      .localCheckpoint(eager = true)
    val term = s"CAST(floor(-ln(" +
      s"(CASE WHEN cabc IS NULL THEN CAST(0 AS DOUBLE) " +
      s"ELSE $QuadL4 * CAST(coalesce(cabcd, 0) AS DOUBLE) / CAST(cabc AS DOUBLE) END) " +
      s"+ (CASE WHEN cbc IS NULL THEN CAST(0 AS DOUBLE) " +
      s"ELSE $QuadL3 * CAST(coalesce(cbcd, 0) AS DOUBLE) / CAST(cbc AS DOUBLE) END) " +
      s"+ $QuadL2 * CAST(coalesce(ccd, 0) AS DOUBLE) / CAST(coalesce(cc, ${lm.oovCnt}L) AS DOUBLE) " +
      s"+ $QuadL1 * CAST(coalesce(cd, ${lm.oovCnt}L) AS DOUBLE) / CAST(${lm.n} AS DOUBLE)" +
      s") * $LmQuantum) AS BIGINT)"
    quads
      .join(broadcast(quad), Seq("a", "b", "c", "d"), "left")
      .join(broadcast(tri), Seq("a", "b", "c"), "left")
      .join(broadcast(tri.select(col("a").as("b"), col("b").as("c"),
        col("c").as("d"), col("cabc").as("cbcd"))), Seq("b", "c", "d"), "left")
      .join(broadcast(bi.select(col("a").as("b"), col("b").as("c"),
        col("cab").as("cbc"))), Seq("b", "c"), "left")
      .join(broadcast(bi.select(col("a").as("c"), col("b").as("d"),
        col("cab").as("ccd"))), Seq("c", "d"), "left")
      .join(broadcast(lm.vocab.select(col("tok").as("c"), col("cnt").as("cc"))),
        Seq("c"), "left")
      .join(broadcast(lm.vocab.select(col("tok").as("d"), col("cnt").as("cd"))),
        Seq("d"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(expr(term)).as("_sq"), count(lit(1)).as("n_quads"))
      .select(col("doc_id"), col("n_quads"),
        (col("_sq").cast("double") / lit(LmQuantum.toDouble) / col("n_quads").cast("double"))
          .as("cross_entropy"))
      .withColumn("ppl_bucket",
        least(lit(LmBucketMax), floor(col("cross_entropy"))).cast("int"))
      .orderBy(col("doc_id"))
  }

  def fourgramLogprob(spark: SparkSession, dir: String): DataFrame =
    fourgramLogprobOn(Tables(spark, dir).documents, "doc_id", "text")

  val fourgramLogprobSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |), $lmVocabCtes,
       |dp AS (
       |  SELECT toks[i] AS a, toks[i + 1] AS b
       |  FROM d, unnest(range(1, len(toks))) t(i)
       |  WHERE len(toks) >= 2
       |), bi AS (
       |  SELECT a, b, COUNT(*) AS cab FROM dp GROUP BY 1, 2
       |  ORDER BY cab DESC, a, b LIMIT $BigramK
       |), dt AS (
       |  SELECT toks[i] AS a, toks[i + 1] AS b, toks[i + 2] AS c
       |  FROM d, unnest(range(1, len(toks) - 1)) t(i)
       |  WHERE len(toks) >= 3
       |), tri AS (
       |  SELECT a, b, c, COUNT(*) AS cabc FROM dt GROUP BY 1, 2, 3
       |  ORDER BY cabc DESC, a, b, c LIMIT $TrigramK
       |), dq AS (
       |  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b, toks[i + 2] AS c,
       |         toks[i + 3] AS dd
       |  FROM d, unnest(range(1, len(toks) - 2)) t(i)
       |  WHERE len(toks) >= 4
       |), quad AS (
       |  SELECT a, b, c, dd, COUNT(*) AS cabcd FROM dq GROUP BY 1, 2, 3, 4
       |  ORDER BY cabcd DESC, a, b, c, dd LIMIT $FourgramK
       |), s AS (
       |  SELECT doc_id,
       |    SUM(CAST(floor(-ln(
       |      (CASE WHEN abc.cabc IS NULL THEN CAST(0 AS DOUBLE)
       |            ELSE $QuadL4 * CAST(COALESCE(quad.cabcd, 0) AS DOUBLE)
       |                 / CAST(abc.cabc AS DOUBLE) END)
       |      + (CASE WHEN bc.cab IS NULL THEN CAST(0 AS DOUBLE)
       |            ELSE $QuadL3 * CAST(COALESCE(bcd.cabc, 0) AS DOUBLE)
       |                 / CAST(bc.cab AS DOUBLE) END)
       |      + $QuadL2 * CAST(COALESCE(cd.cab, 0) AS DOUBLE)
       |        / CAST(COALESCE(uc.cnt, oovc) AS DOUBLE)
       |      + $QuadL1 * CAST(COALESCE(ud.cnt, oovc) AS DOUBLE)
       |        / CAST(n.n AS DOUBLE)
       |    ) * $LmQuantum) AS BIGINT)) AS sq,
       |    COUNT(*) AS nq
       |  FROM dq
       |  LEFT JOIN quad USING (a, b, c, dd)
       |  LEFT JOIN tri abc ON abc.a = dq.a AND abc.b = dq.b AND abc.c = dq.c
       |  LEFT JOIN tri bcd ON bcd.a = dq.b AND bcd.b = dq.c AND bcd.c = dq.dd
       |  LEFT JOIN bi bc ON bc.a = dq.b AND bc.b = dq.c
       |  LEFT JOIN bi cd ON cd.a = dq.c AND cd.b = dq.dd
       |  LEFT JOIN v uc ON uc.tok = dq.c
       |  LEFT JOIN v ud ON ud.tok = dq.dd
       |  CROSS JOIN n
       |  CROSS JOIN oov
       |  GROUP BY 1)
       |SELECT doc_id, CAST(nq AS BIGINT) AS n_quads,
       |  CAST(sq AS DOUBLE) / $LmQuantum / CAST(nq AS DOUBLE) AS cross_entropy,
       |  CAST(LEAST($LmBucketMax,
       |       floor(CAST(sq AS DOUBLE) / $LmQuantum / CAST(nq AS DOUBLE))) AS INT)
       |    AS ppl_bucket
       |FROM s ORDER BY doc_id""".stripMargin

  // --- C55: Kneser–Ney bigram quality signal --------------------------------
  /** Absolute discount, textual so both engines parse the identical
    * double. 0.75 is the standard KN default. */
  val KnDiscount = "0.75"

  /** Per-document cross-entropy under an interpolated Kneser–Ney bigram
    * LM — the smoothing CCNet-class quality scorers actually use: the
    * continuation probability `p_cont(b) = N1+(·b)/|bigram types|` scores
    * how PROMISCUOUSLY a word follows different contexts, so "Francisco"
    * (frequent but only ever after "San") stops looking like a good
    * continuation everywhere — the failure mode plain interpolation
    * (C49) has.
    *
    * Boundedness comes from PROJECTION, not table cuts: every token maps
    * to itself if in the shared top-K vocabulary ([[UnigramVocabK]]) else
    * to the `<unk>` bin BEFORE counting, so every KN table (bigram counts,
    * context totals, fan-out N1+(a·), fan-in N1+(·b)) lives on a ≤(K+1)²
    * domain with NO top-N cut to tune — and the bigram table needs no
    * coalesce: every scored pair is in it by construction.
    *
    * p(b|a) = (max(c(ab)−d, 0) + d·N1+(a·)·(N1+(·b)/D)) / c(a·), with
    * c(a·) = Σ_b c(ab). All inputs are exact integers; the identical
    * textual IEEE formula runs in both engines; terms floor-quantize at
    * [[LmQuantum]] micro-nats (the interpolated-LM quantum). */
  def knLogprobOn(documents: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val docs = documents.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val lm = lmVocabOf(docs)
    val pairs = knPairsOf(docs, lm.vocab)
    val bg = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      .localCheckpoint(eager = true)
    val ctx = bg.groupBy(col("a"))
      .agg(sum(col("cab")).as("ca"), count(lit(1)).as("n1f"))
    val cont = bg.groupBy(col("b")).agg(count(lit(1)).as("n1p"))
    val dTypes = bg.count()
    val d = KnDiscount
    val term = s"CAST(floor(-ln((greatest(CAST(cab AS DOUBLE) - $d, 0.0) " +
      s"+ $d * CAST(n1f AS DOUBLE) " +
      s"* (CAST(n1p AS DOUBLE) / CAST($dTypes AS DOUBLE))) " +
      s"/ CAST(ca AS DOUBLE)) * $LmQuantum) AS BIGINT)"
    pairs
      .join(broadcast(bg), Seq("a", "b"))
      .join(broadcast(ctx), Seq("a"))
      .join(broadcast(cont), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(expr(term)).as("_sq"), count(lit(1)).as("n_pairs"))
      .select(col("doc_id"), col("n_pairs"),
        (col("_sq").cast("double") / lit(LmQuantum.toDouble) /
          col("n_pairs").cast("double")).as("cross_entropy"))
      .withColumn("ppl_bucket",
        least(lit(LmBucketMax), floor(col("cross_entropy"))).cast("int"))
      .orderBy(col("doc_id"))
  }

  def knLogprob(spark: SparkSession, dir: String): DataFrame =
    knLogprobOn(Tables(spark, dir).documents, "doc_id", "text")

  // --- C95: perplexity-band selection (CCNet) ------------------------------
  /** CCNet's perplexity-band curation (Wenzek et al., "CCNet: Extracting
    * high quality monolingual datasets from web crawl data", LREC 2020):
    * score every document by LM cross-entropy, split the corpus at the
    * tercile thresholds into head / middle / tail, and keep head+middle —
    * the canonical "filter web text by LM perplexity" step of every
    * large pretraining pipeline (tail = gibberish, but head-only biases
    * toward short formal text, hence the band structure).
    *
    * Composes C57's Kneser-Ney scorer VERBATIM (`knLogprobOn` — one
    * spelling; its integer micro-nat quantization already makes
    * cross_entropy engine-identical, proven by kn_logprob's hash-green
    * oracle). Thresholds are ONE bounded two-value percentile aggregate
    * broadcast back onto the scored stream; banding is a pure map
    * filter — no shuffle beyond the scorer's own audited plan.
    *
    * `exact = true` (the gate key) uses interpolated `percentile`, which
    * matches DuckDB `quantile_cont` bit-for-bit (the B16 discipline);
    * at 100 TB exact percentile state is O(distinct values) per
    * partition, so the deploy path is `exact = false`: t-digest
    * `approx_percentile` with bounded state — same plan shape, spec-
    * pinned against the exact thresholds. */
  def pplBandSelectOn(documents: DataFrame, idCol: String, textCol: String,
      exact: Boolean = true): DataFrame = {
    // pin the scored frame: it feeds BOTH the threshold aggregate and the
    // banded output — without the checkpoint the whole KN subtree would
    // execute twice per action (the knLogprobOn bg discipline, one level
    // up)
    val scored = knLogprobOn(documents, idCol, textCol)
      .select(col("doc_id"), col("n_pairs"), col("cross_entropy"))
      .localCheckpoint(eager = true)
    def pct(p: Double) =
      if (exact) percentile(col("cross_entropy"), lit(p))
      else approx_percentile(col("cross_entropy"), lit(p), lit(10000))
    val t = scored.agg(pct(1.0 / 3).as("t1"), pct(2.0 / 3).as("t2"))
    scored.crossJoin(broadcast(t)) // 1-row thresholds frame
      .select(col("doc_id"), col("n_pairs"), col("cross_entropy"),
        when(col("cross_entropy") <= col("t1"), "head")
          .when(col("cross_entropy") <= col("t2"), "middle")
          .otherwise("tail").as("band"),
        when(col("cross_entropy") <= col("t2"), 1).otherwise(0)
          .cast("int").as("kept"))
      .orderBy(col("doc_id"))
  }

  def pplBandSelect(spark: SparkSession, dir: String): DataFrame =
    pplBandSelectOn(Tables(spark, dir).documents, "doc_id", "text")

  /** Twin: the kn_logprob twin as a subquery + `quantile_cont` terciles
    * (the B16 exact-percentile parity) + the same CASE banding. */
  lazy val pplBandSelectSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, n_pairs, cross_entropy FROM ($knLogprobSql)
       |), t AS (
       |  SELECT quantile_cont(cross_entropy, 1.0/3) AS t1,
       |         quantile_cont(cross_entropy, 2.0/3) AS t2
       |  FROM scored)
       |SELECT doc_id, n_pairs, cross_entropy,
       |  CASE WHEN cross_entropy <= t1 THEN 'head'
       |       WHEN cross_entropy <= t2 THEN 'middle'
       |       ELSE 'tail' END AS band,
       |  CAST(CASE WHEN cross_entropy <= t2 THEN 1 ELSE 0 END AS INT)
       |    AS kept
       |FROM scored CROSS JOIN t
       |ORDER BY doc_id""".stripMargin

  /** Projected bigram stream: adjacent token pairs with BOTH sides mapped
    * into the shared vocabulary (OOV → `<unk>`) before any counting — the
    * step that bounds every KN table to the ≤(K+1)² domain. Shared by the
    * batch scorer, the trainer, and the DataFrame-backed trainer. */
  private def knPairsOf(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val vocabA = broadcast(vocab.select(col("tok").as("a"), lit(1).as("_ina")))
    val vocabB = broadcast(vocab.select(col("tok").as("b"), lit(1).as("_inb")))
    docs.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"))
        .as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
      .join(vocabA, Seq("a"), "left").join(vocabB, Seq("b"), "left")
      .select(col("doc_id"),
        when(col("_ina").isNotNull, col("a")).otherwise("<unk>").as("a"),
        when(col("_inb").isNotNull, col("b")).otherwise("<unk>").as("b"))
  }

  /** The trained KN model as driver-side lookup tables — the offline half
    * of an online scorer ([[graft.streaming.StreamOps.streamKnScore]]).
    * Every table is bounded by the ≤(K+1)² projected-bigram domain, so
    * the collects are literals by construction (625 entries at the gate
    * K). Bigram keys join `a` and `b` with a single space — safe because
    * tokens are whitespace-split and can never contain one. The ca/n1f/n1p
    * maps always carry a `<unk>` row ([[knSeed]]), so the deploy-time
    * backoff chain is total even when training produced no OOV pairs. */
  case class KnModel(vocab: Set[String], bg: Map[String, Long],
      ca: Map[String, Long], n1f: Map[String, Long], n1p: Map[String, Long],
      dTypes: Long)

  /** Guarantee a `<unk>` row: if training saw OOV pairs the trained counts
    * stay; otherwise seed count 1 (the minimum support that keeps every
    * ln() argument finite and positive), so an unseen deploy token can
    * never bottom the backoff chain out at a missing key. */
  private def knSeed(m: Map[String, Long]): Map[String, Long] =
    if (m.contains("<unk>")) m else m + ("<unk>" -> 1L)

  /** The trained KN model as BOUNDED DataFrames — the production-K
    * spelling: nothing quadratic in the vocab knob is ever collected; the
    * tables broadcast-join onto the scored stream. Only O(1) scalars (the
    * bigram type count and the seeded `<unk>` fallback row) come back to
    * the driver. */
  case class KnTables(vocab: DataFrame, bg: DataFrame, ctx: DataFrame,
      cont: DataFrame, dTypes: Long, unkCa: Long, unkN1f: Long, unkN1p: Long)

  def knTrainTablesOn(documents: DataFrame, idCol: String,
      textCol: String): KnTables = {
    val docs = documents.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val lm = lmVocabOf(docs)
    val bg = knPairsOf(docs, lm.vocab)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      .localCheckpoint(eager = true)
    val ctx = bg.groupBy(col("a"))
      .agg(sum(col("cab")).as("ca"), count(lit(1)).as("n1f"))
      .localCheckpoint(eager = true)
    val cont = bg.groupBy(col("b")).agg(count(lit(1)).as("n1p"))
      .localCheckpoint(eager = true)
    val dTypes = bg.count()
    def unk(df: DataFrame, key: String, valCol: String): Long =
      df.filter(col(key) === "<unk>").select(col(valCol)).collect()
        .headOption.map(_.getLong(0)).getOrElse(1L)
    KnTables(lm.vocab, bg, ctx, cont, dTypes,
      unk(ctx, "a", "ca"), unk(ctx, "a", "n1f"), unk(cont, "b", "n1p"))
  }

  /** Collect the bounded tables into literal maps — ONLY sound below
    * [[KnLiteralMax]]; callers at production K stay on [[knScoreJoinWith]]. */
  def knCollect(t: KnTables): KnModel = {
    val vocab = t.vocab.select(col("tok")).collect().map(_.getString(0)).toSet
    val bg = t.bg.collect()
      .map(r => s"${r.getString(0)} ${r.getString(1)}" -> r.getLong(2)).toMap
    val ctxRows = t.ctx.select(col("a"), col("ca"), col("n1f")).collect()
    val ca = ctxRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val n1f = ctxRows.map(r => r.getString(0) -> r.getLong(2)).toMap
    val n1p = t.cont.select(col("b"), col("n1p")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    KnModel(vocab, bg, knSeed(ca), knSeed(n1f), knSeed(n1p), t.dTypes)
  }

  def knTrain(documents: DataFrame, idCol: String,
      textCol: String): KnModel =
    knCollect(knTrainTablesOn(documents, idCol, textCol))

  /** Literal-map entry ceiling for riding a trained KN model into a plan
    * as `typedLit` maps. The bigram table is ≤(K+1)² — QUADRATIC in the
    * vocab knob — so above this the scorer must switch to the
    * broadcast-join spelling ([[knScoreJoinWith]]) instead of growing a
    * multi-MB plan literal. 4096 entries ≈ a K=63 vocab. */
  val KnLiteralMax = 4096L

  /** Score documents under a TRAINED model riding the plan as map literals
    * — the small-K spelling (zero joins, one map expression). Stateless,
    * so it applies to batch and streaming DataFrames alike. Total over any
    * input: OOV tokens project to `<unk>` before lookup and the `<unk>`
    * fallback row is guaranteed by [[knSeed]]. No ordering is imposed
    * (streams cannot sort); callers order after the drain. */
  def knScoreWith(m: KnModel, docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    require(m.bg.size <= KnLiteralMax,
      s"KN literal scorer at ${m.bg.size} bigram entries exceeds " +
        s"KnLiteralMax=$KnLiteralMax; use knScoreJoinWith (the tables are " +
        "quadratic in the vocab size)")
    // ONE codegen'd kernel pass per doc (projection + lookups + micro-nat
    // terms row-local — the expressions-not-lambdas rule; formerly an
    // interpreted aggregate() HOF, measured ~4× slower on the stream
    // drain). The kernel mirrors the SQL term op-for-op, so the output
    // stays bit-identical to the join spelling and C55's oracle.
    val q6 = LmQuantum
    docs
      .select(col(idCol).as("doc_id"),
        graft.functions.textsketch.kn_score_stats(
          expr(s"split(trim($textCol), '\\\\s+')"),
          m.vocab.toSeq.sorted, m.bg, m.ca, m.n1f, m.n1p,
          m.dTypes, KnDiscount.toDouble, q6.toDouble).as("_k"))
      .filter(col("_k.n_pairs") >= 1)
      .select(col("doc_id"), col("_k.n_pairs").as("n_pairs"),
        (col("_k.sq").cast("double") / lit(q6.toDouble) /
          col("_k.n_pairs").cast("double")).as("cross_entropy"))
      .withColumn("ppl_bucket",
        least(lit(LmBucketMax), floor(col("cross_entropy"))).cast("int"))
  }

  /** Score documents under a trained model via BROADCAST JOINS — the
    * production-K spelling: the ≤(K+1)² tables never leave the executors,
    * so the vocab knob can go to its deploy value (10⁵–10⁶) without a
    * quadratic plan literal or driver map. Semantics are IDENTICAL to
    * [[knScoreWith]] term by term: missing bigram → count 0, missing
    * context/continuation row → the seeded `<unk>` scalars. Stateless maps
    * + stream-static joins, then one per-doc rollup (a streaming
    * aggregation when `docs` streams — drain in complete mode). */
  def knScoreJoinWith(t: KnTables, docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val d = KnDiscount
    val toks = docs.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val term = "CAST(floor(-ln((greatest(CAST(coalesce(cab, 0L) AS DOUBLE) " +
      s"- $d, 0.0) + $d * CAST(coalesce(n1f, ${t.unkN1f}L) AS DOUBLE) " +
      s"* (CAST(coalesce(n1p, ${t.unkN1p}L) AS DOUBLE) " +
      s"/ CAST(${t.dTypes} AS DOUBLE))) " +
      s"/ CAST(coalesce(ca, ${t.unkCa}L) AS DOUBLE)) * $LmQuantum) AS BIGINT)"
    knPairsOf(toks, t.vocab)
      .join(broadcast(t.bg), Seq("a", "b"), "left")
      .join(broadcast(t.ctx), Seq("a"), "left")
      .join(broadcast(t.cont), Seq("b"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(expr(term)).as("_sq"), count(lit(1)).as("n_pairs"))
      .select(col("doc_id"), col("n_pairs"),
        (col("_sq").cast("double") / lit(LmQuantum.toDouble) /
          col("n_pairs").cast("double")).as("cross_entropy"))
      .withColumn("ppl_bucket",
        least(lit(LmBucketMax), floor(col("cross_entropy"))).cast("int"))
  }

  val knLogprobSql: String = {
    val d = KnDiscount
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |), $lmVocabCtes,
       |dp0 AS (
       |  SELECT doc_id, toks[i] AS a0, toks[i + 1] AS b0
       |  FROM d, unnest(range(1, len(toks))) t(i)
       |  WHERE len(toks) >= 2
       |), dp AS (
       |  SELECT doc_id,
       |    CASE WHEN va.tok IS NULL THEN '<unk>' ELSE a0 END AS a,
       |    CASE WHEN vb.tok IS NULL THEN '<unk>' ELSE b0 END AS b
       |  FROM dp0
       |  LEFT JOIN v va ON va.tok = dp0.a0
       |  LEFT JOIN v vb ON vb.tok = dp0.b0
       |), bg AS (SELECT a, b, COUNT(*) AS cab FROM dp GROUP BY 1, 2),
       |ctx AS (SELECT a, SUM(cab) AS ca, COUNT(*) AS n1f FROM bg GROUP BY 1),
       |cont AS (SELECT b, COUNT(*) AS n1p FROM bg GROUP BY 1),
       |dd AS (SELECT COUNT(*) AS dt FROM bg),
       |s AS (
       |  SELECT doc_id,
       |    SUM(CAST(floor(-ln((greatest(CAST(cab AS DOUBLE) - $d, 0.0)
       |      + $d * CAST(n1f AS DOUBLE)
       |      * (CAST(n1p AS DOUBLE) / CAST(dt AS DOUBLE)))
       |      / CAST(ca AS DOUBLE)) * $LmQuantum) AS BIGINT)) AS sq,
       |    COUNT(*) AS np
       |  FROM dp
       |  JOIN bg USING (a, b)
       |  JOIN ctx USING (a)
       |  JOIN cont USING (b)
       |  CROSS JOIN dd
       |  GROUP BY 1)
       |SELECT doc_id, CAST(np AS BIGINT) AS n_pairs,
       |  CAST(sq AS DOUBLE) / $LmQuantum / CAST(np AS DOUBLE) AS cross_entropy,
       |  CAST(LEAST($LmBucketMax,
       |       floor(CAST(sq AS DOUBLE) / $LmQuantum / CAST(np AS DOUBLE))) AS INT)
       |    AS ppl_bucket
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // --- C38: token co-occurrence PMI ----------------------------------------
  /** Vocabulary size and minimum pair support for the PMI table. */
  val PmiVocabK = 50
  val PmiMinPairs = 5

  /** Document-level pointwise mutual information over the top-K vocabulary
    * — the collocation signal phrase-mining and tokenizer audits run.
    * pmi(a,b) = ln(N·c_ab / (c_a·c_b)) over document co-occurrence counts,
    * floor-quantized to integer pico-nats (the C31/C25 ln-parity trick).
    *
    * Scale shape: the vocabulary is a bounded driver collect (top-K by
    * count, deterministic tiebreak) broadcast back as a literal; per-doc
    * pair generation is array algebra over the ≤K vocabulary tokens a doc
    * contains (pairs per doc ≤ K²/2, independent of doc length); the only
    * shuffles aggregate O(K²) pair rows and O(K) token rows. */
  def tokenPmiOn(documents: DataFrame, idCol: String, textCol: String,
      vocabK: Int, minPairs: Long): DataFrame = {
    require(vocabK >= 2, s"vocabK=$vocabK needs at least a pair of tokens")
    val toks = documents.select(col(idCol).as("doc_id"),
      array_distinct(TextOps.tokens(col(textCol))).as("toks"))
    val vocab = toks.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(vocabK)
      .collect().map(_.getString(0)).sorted
    // row count straight off the source (column-pruned to nothing — a
    // footer-counting scan), NOT off `toks`, whose projection would
    // re-tokenize the corpus just to throw the arrays away
    val nDocs = documents.count()
    val inVocab = toks
      .select(col("doc_id"),
        array_sort(array_intersect(col("toks"), lit(vocab))).as("vt"))
      .filter(size(col("vt")) > 0)
    val dfCounts = inVocab.select(explode(col("vt")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val pairs = inVocab
      .select(explode(expr(
        """flatten(transform(vt, (x, i) ->
          |  transform(slice(vt, i + 2, size(vt)), y -> struct(x AS a, y AS b))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.a").as("token_a"), col("p.b").as("token_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairs)
    pairs
      .join(broadcast(dfCounts.withColumnRenamed("tok", "token_a")
        .withColumnRenamed("c", "c_a")), "token_a")
      .join(broadcast(dfCounts.withColumnRenamed("tok", "token_b")
        .withColumnRenamed("c", "c_b")), "token_b")
      .select(col("token_a"), col("token_b"), col("c_ab"),
        expr(s"CAST(floor(ln(CAST($nDocs AS DOUBLE) * c_ab / " +
          "(CAST(c_a AS DOUBLE) * c_b)) * 1e12) AS BIGINT)").as("pmi_pico"))
      .orderBy(col("token_a"), col("token_b"))
  }

  def tokenPmi(spark: SparkSession, dir: String): DataFrame =
    tokenPmiOn(Tables(spark, dir).documents, "doc_id", "text",
      PmiVocabK, PmiMinPairs)

  val tokenPmiSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
       |  FROM documents
       |), vc AS (
       |  SELECT tok, COUNT(*) AS cnt
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM d) GROUP BY 1
       |  ORDER BY cnt DESC, tok LIMIT $PmiVocabK
       |), vl AS (SELECT list(tok) AS vocab FROM vc),
       |n AS (SELECT COUNT(*) AS n FROM d),
       |iv AS (
       |  SELECT doc_id,
       |    list_sort(list_filter(toks, t -> list_contains(vocab, t))) AS vt
       |  FROM d CROSS JOIN vl
       |  WHERE len(list_filter(toks, t -> list_contains(vocab, t))) > 0
       |), dfc AS (
       |  SELECT tok, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(vt) AS tok FROM iv) GROUP BY 1
       |), pr AS (
       |  SELECT p[1] AS token_a, p[2] AS token_b, COUNT(*) AS c_ab
       |  FROM (SELECT unnest(flatten(list_transform(range(1, len(vt) + 1),
       |          i -> list_transform(vt[i + 1 :], y -> [vt[i], y])))) AS p
       |        FROM iv)
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $PmiMinPairs)
       |SELECT token_a, token_b, c_ab,
       |  CAST(floor(ln(CAST(n AS DOUBLE) * c_ab
       |    / (CAST(a.c AS DOUBLE) * b.c)) * 1e12) AS BIGINT) AS pmi_pico
       |FROM pr
       |JOIN dfc a ON a.tok = token_a
       |JOIN dfc b ON b.tok = token_b
       |CROSS JOIN n
       |ORDER BY token_a, token_b""".stripMargin

  // --- C98: per-document top-k TF-IDF terms ---------------------------------
  /** How many top terms C98 keeps per document. */
  val TfidfTopK = 5

  /** Per-document top-k TF-IDF keyterms — the other classic use of the
    * BM25 statistics (C41 ranks DOCUMENTS for a query; C98 ranks TERMS
    * for a document): keyword extraction / doc labeling, the first
    * feature a corpus-exploration UI asks for.
    *
    * Parity: the per-term idf is floor-quantized to integer piconats
    * ONCE (`floor(ln(N/df)·1e12)`, the C31/C49 discipline) and the
    * score is tf × idf_pico in exact integer arithmetic; ranking orders
    * (score desc, term) — a total order, so both engines pick identical
    * rows. Scale shape: ONE doc-key exchange total — the token stream
    * repartitions on doc first, so the (doc, term) tf agg and the
    * per-doc rank window reuse hash(doc); the df table aggregates once
    * (bounded by vocabulary) and broadcasts back onto the tf rows. */
  def tfidfTopTermsOn(documents: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val toks = documents.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val nDocs = documents.count()
    val tf = toks.repartition(col("doc_id"))
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_pico").desc, col("term"))
    tf.join(broadcast(dfreq), "term")
      .withColumn("score_pico", expr(
        s"tf * CAST(floor(ln(CAST($nDocs AS DOUBLE) / df) * 1e12) AS BIGINT)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("term"), col("tf"), col("score_pico"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    tfidfTopTermsOn(Tables(spark, dir).documents, "doc_id", "text",
      TfidfTopK)

  /** Twin: the same quantized idf, integer score, and total-order rank. */
  val tfidfTopTermsSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |), n AS (SELECT COUNT(*) AS n FROM d),
       |tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM d) GROUP BY 1, 2
       |), dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |s AS (
       |  SELECT tf.doc_id, tf.term, tf.tf,
       |    tf.tf * CAST(floor(ln(CAST(n AS DOUBLE) / df) * 1e12) AS BIGINT)
       |      AS score_pico
       |  FROM tf JOIN dfc USING (term) CROSS JOIN n
       |), r AS (
       |  SELECT doc_id, term, tf, score_pico,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY score_pico DESC, term) AS rnk
       |  FROM s)
       |SELECT doc_id, rnk, term, tf, score_pico
       |FROM r WHERE rnk <= $TfidfTopK
       |ORDER BY doc_id, rnk""".stripMargin

  // --- C39: vocabulary OOV audit -------------------------------------------
  /** Tokenizer-audit vocabulary size — deliberately below the synthetic
    * corpus' full vocabulary so the OOV tail is non-empty at every sf. */
  val OovVocabK = 20

  /** Per-document out-of-vocabulary rate against the corpus' own top-K
    * vocabulary — the audit a tokenizer/vocab change runs before a
    * retrain ("how much of the corpus does this vocab actually cover?").
    * Vocabulary = bounded driver top-K (count desc, token tiebreak)
    * broadcast as a literal; scoring is a pure map stage (array algebra
    * over the token list). The OOV rate is an exact integer ratio
    * divided once in IEEE double — engine-identical. */
  def vocabOovOn(documents: DataFrame, idCol: String, textCol: String,
      vocabK: Int): DataFrame = {
    val toks = documents.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val vocab = toks.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(vocabK)
      .collect().map(_.getString(0)).sorted
    toks
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_oov",
        size(filter(col("toks"), t => !t.isin(vocab.toSeq: _*))))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  def vocabOov(spark: SparkSession, dir: String): DataFrame =
    vocabOovOn(Tables(spark, dir).documents, "doc_id", "text", OovVocabK)

  val vocabOovSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |), vc AS (
       |  SELECT tok FROM (
       |    SELECT tok, COUNT(*) AS cnt
       |    FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY 1
       |    ORDER BY cnt DESC, tok LIMIT $OovVocabK)
       |), vl AS (SELECT list(tok) AS vocab FROM vc)
       |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
       |  CAST(len(list_filter(toks, t -> NOT list_contains(vocab, t))) AS INT)
       |    AS n_oov,
       |  CAST(len(list_filter(toks, t -> NOT list_contains(vocab, t))) AS DOUBLE)
       |    / len(toks) AS oov_rate
       |FROM d CROSS JOIN vl
       |ORDER BY doc_id""".stripMargin

  // --- C40: deterministic weighted sampling --------------------------------
  /** Sample size for the canned query. */
  val WsK = 100

  /** Weighted sampling WITHOUT randomness (Efraimidis–Spirakis A-ES with a
    * hash-derived uniform): each doc gets u = (h48+1)/2^48 from its
    * md5-prefix and priority ln(u)/w (monotone in u^(1/w)); the k largest
    * priorities are the sample, so inclusion probability scales with the
    * weight w (tokens here — sampling documents ∝ training mass). Unlike
    * `rand()`-based sampling the result is a pure function of doc ids:
    * reshard-stable, rerun-identical, engine-identical (priorities
    * floor-quantized to pico integers via the ln-parity trick).
    *
    * Scale shape: priority is a pure map stage; top-k plans as
    * TakeOrderedAndProject (bounded per-partition heaps) — nothing is
    * globally sorted; the final rank window runs over the k survivors
    * only. */
  /** The A-ES priority derivation — ONE spelling for the batch sample
    * and the B68 streaming reservoir (the frozen-model factoring
    * discipline): (doc_id, n_tokens, key_pico), zero-weight docs
    * dropped (never sampled under A-ES semantics; also keeps the
    * priority division well-defined). Any change to the salt, quantum,
    * or filter lands in BOTH consumers or the shared-oracle hash gate
    * fails loudly. */
  private[graft] def weightedScoredOn(documents: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val h48 = conv(substring(md5(concat(col(idCol).cast("string"),
      lit(":ws"))), 1, 12), 16, 10).cast("long")
    documents
      .select(col(idCol).as("doc_id"),
        size(TextOps.tokens(col(textCol))).cast("bigint").as("n_tokens"),
        h48.as("h48"))
      .filter(col("n_tokens") > 0)
      .withColumn("u", (col("h48") + 1).cast("double") / lit(281474976710656.0))
      .withColumn("key_pico",
        expr("CAST(floor(ln(u) / n_tokens * 1e12) AS BIGINT)"))
  }

  def weightedSampleOn(documents: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val topk = weightedScoredOn(documents, idCol, textCol)
      .orderBy(col("key_pico").desc, col("doc_id"))
      .limit(k)
    topk
      .select(col("doc_id"), col("n_tokens"), col("key_pico"),
        row_number().over(Window
            .partitionBy(BoundedBoard.pinnedZero(col("doc_id")))
            .orderBy(col("key_pico").desc, col("doc_id")))
          .cast("int").as("rank"))
      .orderBy(col("rank"))
  }

  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    weightedSampleOn(Tables(spark, dir).documents, "doc_id", "text", WsK)

  val weightedSampleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |    ${hex12Sql(s"substr(md5(CAST(doc_id AS VARCHAR) || ':ws'), 1, 12)")} AS h48
       |  FROM documents
       |), p AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(floor(ln(CAST(h48 + 1 AS DOUBLE) / 281474976710656.0)
       |      / n_tokens * 1e12) AS BIGINT) AS key_pico
       |  FROM d WHERE n_tokens > 0)
       |SELECT doc_id, n_tokens, key_pico,
       |  CAST(row_number() OVER (ORDER BY key_pico DESC, doc_id) AS INT) AS rank
       |FROM p
       |QUALIFY rank <= $WsK
       |ORDER BY rank""".stripMargin

  // --- C42: corpus phrase merging ------------------------------------------
  /** Phrases to mine (top-K adjacent bigrams by document frequency) and
    * the minimum support. */
  val PhraseK = 10
  val PhraseMinDf = 5L

  /** The mined phrase vocabulary: top-[[PhraseK]] ADJACENT bigrams by
    * document frequency (deterministic tiebreak), as `a_b` strings —
    * bounded, so it collects to the driver and broadcasts as a literal,
    * like the unigram LM and the OOV vocab. */
  /** Bounded mining WITH document frequencies — the per-round product the
    * BPE trainer exports ([[bpeVocabOn]]); [[minePhrases]] is its stringly
    * projection for the merge kernels. */
  def minePhrasesDf(documents: DataFrame, idCol: String,
      textCol: String): DataFrame =
    documents
      .select(explode(TextOps.shingles(col(textCol), 2)).as("s"))
      .select(regexp_replace(col("s"), " ", "_").as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= PhraseMinDf)
      .orderBy(col("df").desc, col("bg")).limit(PhraseK)

  def minePhrases(documents: DataFrame, idCol: String,
      textCol: String): Seq[String] =
    minePhrasesDf(documents, idCol, textCol)
      .collect().map(_.getString(0)).toSeq

  /** Greedy left-to-right phrase merging (the wordpiece/phrase-vocab
    * build pass): walk each document's token list once, joining an
    * adjacent pair into `a_b` whenever it is in the mined phrase set; a
    * merged token never chain-merges within a round (the chained form
    * `a_b_c` is only in the vocabulary when a LATER mining round put it
    * there — see [[phraseMergeRounds]]). The walk is one codegen'd kernel
    * pass ([[graft.functions.GreedyPhraseMerge]] — formerly an
    * interpreted `aggregate` fold, hoisted per the expressions-not-lambdas
    * rule); the oracle replays it one token per recursion step, so both
    * engines follow the same trajectory token for token — a pure map
    * stage over the corpus. Emits per-doc before/after token counts,
    * merge count, and the md5 fingerprint of the merged text. */
  def phraseMergeOn(documents: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "phrase set must not be empty")
    documents
      .select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("toks"))
      .withColumn("_m",
        graft.functions.textsketch.greedy_phrase_merge(col("toks"), phrases))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens_before"),
        size(col("_m")).as("n_tokens_after"),
        // each merge removes exactly one token, so the count difference IS
        // the merge count — same number the fold accumulator reported
        (size(col("toks")) - size(col("_m"))).as("n_merges"),
        md5(concat_ws(" ", col("_m"))).as("merged_fp"))
      .orderBy(col("doc_id"))
  }

  def phraseMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    phraseMergeOn(docs, "doc_id", "text", minePhrases(docs, "doc_id", "text"))
  }

  /** Mining CTE pair: top-[[PhraseK]] adjacent bigrams by document
    * frequency over a `src(doc_id, toks)` CTE, as `bg` + a 1-row phrase
    * list `vl`. */
  private def mineCtes(src: String, bg: String, vl: String): String =
    s"""$bg AS (
       |  SELECT bg, COUNT(*) AS df
       |  FROM (SELECT doc_id, unnest(list_distinct(list_transform(
       |          range(1, len(toks)), i -> toks[i] || '_' || toks[i+1]))) AS bg
       |        FROM $src)
       |  GROUP BY 1 HAVING COUNT(*) >= $PhraseMinDf
       |  ORDER BY df DESC, bg LIMIT $PhraseK
       |), $vl AS (SELECT list(bg) AS phrases FROM $bg)""".stripMargin

  /** Recursive greedy-walk CTE over `src(doc_id, toks)` with vocab `vl`:
    * one token per recursion step; rows with `i = n` carry the final
    * (pend, acc, merges) state. */
  private def walkCtes(walk: String, src: String, vl: String): String =
    s"""$walk(doc_id, i, n, pend, acc, merges) AS (
       |  SELECT doc_id, 1, len(toks), toks[1], CAST('' AS VARCHAR), 0 FROM $src
       |  UNION ALL
       |  SELECT w.doc_id, w.i + 1, w.n,
       |    CASE WHEN list_contains($vl.phrases, w.pend || '_' || d.toks[w.i + 1])
       |         THEN w.pend || '_' || d.toks[w.i + 1] ELSE d.toks[w.i + 1] END,
       |    CASE WHEN list_contains($vl.phrases, w.pend || '_' || d.toks[w.i + 1])
       |         THEN w.acc
       |         ELSE w.acc || (CASE WHEN w.acc = '' THEN '' ELSE ' ' END) || w.pend END,
       |    w.merges + CASE WHEN list_contains($vl.phrases,
       |                      w.pend || '_' || d.toks[w.i + 1]) THEN 1 ELSE 0 END
       |  FROM $walk w JOIN $src d ON d.doc_id = w.doc_id CROSS JOIN $vl
       |  WHERE w.i < w.n
       |)""".stripMargin

  /** The final merged text of a finished walk row. */
  private val walkTxt = "acc || (CASE WHEN acc = '' THEN '' ELSE ' ' END) || pend"

  /** The oracle walks the same greedy pass ONE TOKEN PER RECURSION STEP
    * (WITH RECURSIVE over the position index) — NOT via `list_reduce`,
    * whose struct-accumulator path segfaults DuckDB v1.0.0 on real data
    * (reproduced; a crashing oracle would take the whole gate down).
    * A merged token can never chain-merge because single-round phrases
    * join plain tokens with `_`, so no extra state flag is needed. */
  val phraseMergeSql: String =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |), ${mineCtes("d", "bg", "vl")},
       |${walkCtes("walk", "d", "vl")}
       |SELECT doc_id, CAST(n AS INT) AS n_tokens_before,
       |  CAST(n - merges AS INT) AS n_tokens_after,
       |  CAST(merges AS INT) AS n_merges,
       |  md5($walkTxt) AS merged_fp
       |FROM walk WHERE i = n ORDER BY doc_id""".stripMargin

  // --- C47: multi-round phrase merging (vocab growth) -----------------------
  /** Two mining+merge rounds — the BPE/wordpiece vocabulary-GROWTH loop
    * with document-frequency mining: round 1 merges the raw corpus's top
    * adjacent bigrams; round 2 re-mines over the MERGED corpus, where a
    * mined pair can join a round-1 phrase to its neighbor
    * (`a_b` + `c` → `a_b_c`) — the chaining a single greedy round
    * deliberately forbids. Each round is one bounded driver-side mining
    * aggregation (the vocab literal) plus one codegen'd map pass; rounds
    * compose exactly like production BPE training iterations. */
  def phraseMergeRoundsOn(documents: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import graft.functions.textsketch.greedy_phrase_merge
    val v1 = minePhrases(documents, idCol, textCol)
    val t1 = documents
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks0"))
      .withColumn("toks1", greedy_phrase_merge(col("toks0"), v1))
    val v2 = minePhrases(
      t1.select(col("doc_id"), concat_ws(" ", col("toks1")).as("text1")),
      "doc_id", "text1")
    t1.withColumn("toks2", greedy_phrase_merge(col("toks1"), v2))
      .select(col("doc_id"),
        size(col("toks0")).as("n_tokens_0"),
        size(col("toks1")).as("n_tokens_1"),
        size(col("toks2")).as("n_tokens_2"),
        md5(concat_ws(" ", col("toks2"))).as("merged_fp"))
      .orderBy(col("doc_id"))
  }

  def phraseMergeRounds(spark: SparkSession, dir: String): DataFrame =
    phraseMergeRoundsOn(Tables(spark, dir).documents, "doc_id", "text")

  /** Twin: two chained recursive walks; round 2's token arrays and vocab
    * both derive from round 1's merged text. The round-1 products are
    * `MATERIALIZED` — without the hint, every recursion step of walk2
    * re-evaluates d2 ← m1 ← walk1, turning the chain quadratic (observed:
    * minutes vs 5 s at sf0.01). */
  val phraseMergeRoundsSql: String =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |), ${mineCtes("d", "bg1", "vl1")},
       |${walkCtes("walk1", "d", "vl1")},
       |m1 AS MATERIALIZED (
       |  SELECT doc_id, CAST(n AS INT) AS n0, CAST(n - merges AS INT) AS n1,
       |         $walkTxt AS txt
       |  FROM walk1 WHERE i = n
       |), d2 AS MATERIALIZED (
       |  SELECT doc_id, regexp_split_to_array(txt, ' ') AS toks FROM m1
       |), ${mineCtes("d2", "bg2", "vl2")},
       |${walkCtes("walk2", "d2", "vl2")},
       |m2 AS (
       |  SELECT doc_id, CAST(n - merges AS INT) AS n2, $walkTxt AS txt
       |  FROM walk2 WHERE i = n
       |)
       |SELECT m1.doc_id, m1.n0 AS n_tokens_0, m1.n1 AS n_tokens_1,
       |  m2.n2 AS n_tokens_2, md5(m2.txt) AS merged_fp
       |FROM m1 JOIN m2 ON m1.doc_id = m2.doc_id
       |ORDER BY m1.doc_id""".stripMargin

  // --- C52: BPE-style vocabulary trainer (R rounds, per-round export) ------
  /** Trainer depth. Each round past the first chains the merged corpus
    * through one more codegen kernel pass; at deploy scale R is the
    * tokenizer team's merge-table budget, and the per-round export below
    * is exactly the artifact they version. */
  val BpeRounds = 3

  /** The generalized [[phraseMergeRoundsOn]] trainer driven to R rounds,
    * EXPORTING the per-round vocabulary — (round, phrase, df) is the
    * merge-table artifact a tokenizer build pipelines into version
    * control, not just a side effect of merging. Round r mines the corpus
    * after r−1 merge passes, so later rounds grow chained phrases
    * (`a_b` + `c` → `a_b_c`) exactly like the 2-round operator.
    *
    * Scale shape: per round, ONE bounded mining aggregation (top-K by
    * document frequency, deterministic (df desc, phrase) cut — a driver
    * literal by construction) plus one codegen map pass over the corpus;
    * the output is R × K rows assembled driver-side. Lineage is cut every
    * other round so deep trainers plan like shallow ones. */
  def bpeVocabOn(documents: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame =
    bpeTrain(documents, idCol, textCol, Nil, rounds)

  /** WARM-START the trainer from a previous run's exported merge table:
    * the stored rounds replay as pure codegen merge passes — their mining
    * aggregations (the expensive half: one full-corpus n-gram count per
    * round) are skipped, their rows pass through to the output — and only
    * rounds past the stored depth mine. Because mining round r depends on
    * the corpus state only THROUGH the merge vocabularies of rounds < r,
    * warm-start(R+1 | table@R) ≡ cold-start(R+1) exactly (spec-pinned,
    * including through a Sinks parquet round-trip of the artifact) — the
    * property that lets a tokenizer team deepen a versioned merge table
    * without retraining from round 1. */
  def bpeVocabResumeOn(documents: DataFrame, idCol: String, textCol: String,
      mergeTable: DataFrame, rounds: Int): DataFrame = {
    val stored = mergeTable
      .select(col("round").cast("int"), col("phrase"), col("df").cast("long"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    if (stored.nonEmpty) {
      val rs = stored.map(_._1).toSet
      require((1 to rs.max).forall(rs.contains),
        s"merge table is missing rounds: have $rs")
    }
    bpeTrain(documents, idCol, textCol, stored, rounds)
  }

  /** Shared trainer core: rounds ≤ the stored depth REPLAY (merge pass
    * only), rounds past it MINE then merge — [[bpeVocabOn]] is the
    * stored-nothing case. */
  private def bpeTrain(documents: DataFrame, idCol: String, textCol: String,
      stored: Seq[(Int, String, Long)], rounds: Int): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (_, mined) = bpeApplyMerges(rounds,
      documents.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("toks")),
      stored, mergeFinal = false)
    mined.toDF("round", "phrase", "df")
      .orderBy(col("round"), col("df").desc, col("phrase"))
  }

  def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    bpeVocabOn(Tables(spark, dir).documents, "doc_id", "text", BpeRounds)

  /** Twin: the [[phraseMergeRoundsSql]] chain GENERATED to [[BpeRounds]]
    * depth (each non-final round mines + walks and feeds the next; the
    * final round only mines — no walk is needed to export its
    * vocabulary). Deriving the CTE chain from the same constant the
    * trainer uses means changing [[BpeRounds]] re-derives the oracle
    * instead of silently desyncing engine and SQL. */
  val bpeVocabSql: String = {
    val chain = (1 to BpeRounds).map { r =>
      val mine = mineCtes(s"d$r", s"bg$r", s"vl$r")
      if (r < BpeRounds)
        s"""$mine,
           |${walkCtes(s"walk$r", s"d$r", s"vl$r")},
           |m$r AS MATERIALIZED (
           |  SELECT doc_id, $walkTxt AS txt FROM walk$r WHERE i = n
           |), d${r + 1} AS MATERIALIZED (
           |  SELECT doc_id, regexp_split_to_array(txt, ' ') AS toks FROM m$r
           |)""".stripMargin
      else mine
    }.mkString(",\n")
    val union = (1 to BpeRounds).map { r =>
      if (r == 1) s"  SELECT 1 AS round, bg AS phrase, df FROM bg1"
      else s"  UNION ALL SELECT $r, bg, df FROM bg$r"
    }.mkString("\n")
    s"""WITH RECURSIVE d1 AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |), $chain
       |SELECT round, phrase, df FROM (
       |$union)
       |ORDER BY round, df DESC, phrase""".stripMargin
  }

  // --- C60: BPE tokenizer APPLY (train → encode) ----------------------------
  /** Base-vocabulary bound for the encoder: after every merge round is
    * applied, the top-K remaining tokens (count desc, token) get ids; the
    * rest encode as OOV id 0. 256 here; 10⁴–10⁵ at deploy scale — the
    * id table stays a driver literal either way (the merge table is
    * R×[[PhraseK]] rows by construction). */
  val EncodeBaseK = 256

  /** The encoder's deterministic id assignment: merge-table phrases get
    * ids 1..M in the table's export order (round, df desc, phrase) with
    * first-wins on re-mined phrases; base tokens get M+1..M+K in
    * (count desc, token) order. Merge ids take precedence on lookup. */
  private def encodeIdMap(table: Seq[(Int, String, Long)],
      base: Seq[String]): Map[String, Int] = {
    val b = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    table.zipWithIndex.foreach { case ((_, p, _), i) =>
      if (!b.contains(p)) b(p) = i + 1 }
    base.zipWithIndex.foreach { case (t, i) =>
      if (!b.contains(t)) b(t) = table.size + i + 1 }
    b.toMap
  }

  /** Internal: the fully-merged token stream plus the id table — the
    * encoder core shared by the gate query and the spec's id-level
    * assertions. Applies ALL `rounds` vocabularies (the trainer only
    * applies rounds < R internally; round R's export exists precisely so
    * the APPLY side can use it), then maps tokens to ids in one codegen
    * `transform` — the corpus never shuffles. */
  /** THE mine-then-merge loop, shared by the trainer ([[bpeTrain]]), the
    * encoder (C60), and the fertility rollup (C66) — one spelling, so the
    * encoder's "returned table EQUALS the trainer's export" claim holds by
    * construction, not by eyeball. Mining round r runs on the corpus with
    * r−1 merges applied; rounds ≤ the stored depth REPLAY their stored
    * vocabulary (the resume path) instead of mining. `mergeFinal` is the
    * apply/train distinction: the trainer skips the last merge pass (its
    * product is the table), the encoder applies it (its product is the
    * merged corpus). `base` must carry (doc_id, toks); extra columns pass
    * through. */
  private def bpeApplyMerges(rounds: Int, base: DataFrame,
      stored: Seq[(Int, String, Long)] = Nil, mergeFinal: Boolean = true)
      : (DataFrame, Seq[(Int, String, Long)]) = {
    import graft.functions.textsketch.greedy_phrase_merge
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    val r0 = if (stored.isEmpty) 0 else stored.map(_._1).max
    require(rounds >= r0, s"rounds=$rounds below the stored depth $r0")
    var cur = base
    val mined = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    mined ++= stored
    for (r <- 1 to rounds) {
      val rows: Seq[(Int, String, Long)] =
        if (r <= r0) stored.filter(_._1 == r)
        else {
          val fresh = minePhrasesDf(
            cur.select(col("doc_id"), concat_ws(" ", col("toks")).as("text")),
            "doc_id", "text")
            .collect().map(x => (r, x.getString(0), x.getLong(1))).toSeq
          mined ++= fresh
          fresh
        }
      if ((r < rounds || mergeFinal) && rows.nonEmpty)
        cur = cur.withColumn("toks",
          greedy_phrase_merge(col("toks"), rows.map(_._2).toIndexedSeq))
      if (r % 2 == 0 && r < rounds) cur = cur.localCheckpoint(eager = true)
    }
    (cur, mined.toSeq)
  }

  private[operators] def bpeEncodeIdsOn(documents: DataFrame, idCol: String,
      textCol: String, rounds: Int,
      baseK: Int = EncodeBaseK): (DataFrame, Map[String, Int]) = {
    val (cur, table) = bpeApplyMerges(rounds,
      documents.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("toks"),
        // the pre-merge stream rides along so the C73 round-trip can
        // compare decode(encode(x)) against x without a re-join
        TextOps.tokens(col(textCol)).as("orig")))
    val base = cur.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(baseK)
      .collect().map(_.getString(0)).toSeq
    val ids = encodeIdMap(table, base)
    (cur.withColumn("_m", typedLit(ids))
       .withColumn("ids", expr("transform(toks, t -> coalesce(_m[t], 0))"))
       .drop("_m"), ids)
  }

  /** Per-document BPE ENCODE under the [[bpeVocabOn]] merge table — the
    * missing half of the tokenizer story (train → encode → pack): each
    * document's token stream after all merge rounds, mapped to the
    * deterministic bounded id space, reported as the encoded length, the
    * OOV count, and the md5 fingerprint of the exact id sequence.
    *
    * Scale shape: training is R bounded mining aggregations (driver
    * literals by construction); encoding is R+1 codegen map passes
    * (merges + id lookup) with ZERO corpus shuffles — the only exchange
    * is the output ordering. The id table is M+K entries and rides the
    * plan as one map literal (the [[KnLiteralMax]] discipline: at deploy
    * K this switches to a broadcast join, same semantics). */
  def bpeEncodeOn(documents: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val (enc, _) = bpeEncodeIdsOn(documents, idCol, textCol, rounds)
    enc.select(col("doc_id"),
        size(col("toks")).cast("int").as("n_tokens"),
        expr("CAST(size(filter(ids, x -> x = 0)) AS INT)").as("n_oov"),
        md5(concat_ws(",", expr("transform(ids, x -> CAST(x AS STRING))")))
          .as("ids_fp"))
      .orderBy(col("doc_id"))
  }

  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeOn(Tables(spark, dir).documents, "doc_id", "text", BpeRounds)

  // --- C73: decode + round-trip QA -----------------------------------------
  /** The DECODER closing the tokenizer lifecycle (train → encode → decode):
    * each id maps back through the INVERSE id table (injective by
    * first-wins construction), merged phrases split back on `_` — the
    * joiner [[minePhrasesDf]] stores and `greedy_phrase_merge` builds, so
    * nested merges (`a_b_c`) unfold in one pass — into their whitespace
    * tokens; OOV ids (0) decode to `<unk>`. A source token containing a
    * LITERAL underscore makes the decode ambiguous (it splits like a
    * merge) — `lossless` reports exactly that: an ACTUAL array comparison
    * of decode(encode(x)) against the pre-merge stream, the per-document
    * guarantee a pipeline needs before it stores ids instead of text.
    * Same zero-corpus-shuffle shape as C60: the decode is one more
    * codegen map pass, the only exchange is the gate sort. */
  def bpeRoundtripOn(documents: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val (enc, ids) = bpeEncodeIdsOn(documents, idCol, textCol, rounds)
    val inv: Map[Int, String] = ids.map(_.swap)
    require(inv.size == ids.size, "id table must be injective to decode")
    enc.withColumn("_inv", typedLit(inv))
      .withColumn("decoded", expr(
        """flatten(transform(ids, x ->
          |  CASE WHEN x = 0 THEN array('<unk>')
          |       ELSE split(_inv[x], '_') END))""".stripMargin
          .replaceAll("\n", " ")))
      .select(col("doc_id"),
        size(col("toks")).cast("int").as("n_tokens"),
        expr("CAST(size(filter(ids, x -> x = 0)) AS INT)").as("n_oov"),
        size(col("orig")).cast("int").as("n_ws"),
        size(col("decoded")).cast("int").as("n_decoded"),
        (col("decoded") === col("orig")).cast("int").as("lossless"))
      .orderBy(col("doc_id"))
  }

  def bpeRoundtrip(spark: SparkSession, dir: String): DataFrame =
    bpeRoundtripOn(Tables(spark, dir).documents, "doc_id", "text", BpeRounds)

  // --- C66: per-language tokenizer fertility --------------------------------
  /** Tokens-per-word fertility of the C52 merge table, per language — THE
    * tokenizer-QA number: a language whose fertility stays near 1.0 gets
    * no compression from the learned vocabulary (undertrained for it), and
    * a rising fertility on a language's new feed means the vocabulary has
    * drifted away from its text. Raw and encoded counts ride one corpus
    * map pass (the merge loop carries the pre-merge count through); the
    * rollup is one O(languages) partial agg; fertility is one IEEE
    * division of exact longs. */
  def vocabFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val (cur, _) = bpeApplyMerges(BpeRounds,
      docs.select(col("doc_id"), col("lang"),
          TextOps.tokens(col("text")).as("toks"))
        .withColumn("n_raw", size(col("toks")).cast("long")))
    cur
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_raw")).as("ws_tokens"),
        sum(size(col("toks")).cast("long")).as("enc_tokens"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"), col("enc_tokens"),
        (col("enc_tokens").cast("double") / col("ws_tokens").cast("double"))
          .as("fertility"))
      .orderBy(col("lang"))
  }

  /** Twin: the shared apply chain, rolled up per language. */
  val vocabFertilitySql: String = {
    val dF = s"d${BpeRounds + 1}"
    s"""WITH RECURSIVE d1 AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |), $bpeApplyChainSql
       |SELECT d.lang, COUNT(*) AS n_docs,
       |  CAST(SUM(len(r.toks)) AS BIGINT) AS ws_tokens,
       |  CAST(SUM(len(f.toks)) AS BIGINT) AS enc_tokens,
       |  CAST(CAST(SUM(len(f.toks)) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(len(r.toks)) AS BIGINT) AS DOUBLE) AS fertility
       |FROM documents d
       |JOIN d1 r ON d.doc_id = r.doc_id
       |JOIN $dF f ON d.doc_id = f.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Twin: the [[bpeVocabSql]] chain extended one walk (round R's vocab
    * IS applied when encoding), then the same id assignment — merge rows
    * numbered in export order with first-wins dedup, base tokens ranked
    * over the merged corpus — replayed as joins; generated from
    * [[BpeRounds]]/[[EncodeBaseK]] so the oracle re-derives with the
    * knobs. */
  /** The R-round mine+walk chain applying EVERY round's vocabulary
    * (d1 raw → d{R+1} fully merged) — shared by the encode and fertility
    * twins. */
  private def bpeApplyChainSql: String =
    (1 to BpeRounds).map { r =>
      s"""${mineCtes(s"d$r", s"bg$r", s"vl$r")},
         |${walkCtes(s"walk$r", s"d$r", s"vl$r")},
         |m$r AS MATERIALIZED (
         |  SELECT doc_id, $walkTxt AS txt FROM walk$r WHERE i = n
         |), d${r + 1} AS MATERIALIZED (
         |  SELECT doc_id, regexp_split_to_array(txt, ' ') AS toks FROM m$r
         |)""".stripMargin
    }.mkString(",\n")

  /** The shared id-assignment CTE prefix (raw d1 → fully merged corpus →
    * id table → per-position ids): ONE spelling for the C60 encode twin
    * and the C73 round-trip twin, so the decode oracle cannot fork the
    * encoder it must invert. `pid` carries the merged token alongside its
    * id because the inverse table is exact-equality by construction — an
    * id's preimage IS the token that produced it. */
  private def bpeIdAssignCtes: String = {
    val chain = bpeApplyChainSql
    val union = (1 to BpeRounds).map { r =>
      if (r == 1) s"  SELECT 1 AS round, bg AS phrase, df FROM bg1"
      else s"  UNION ALL SELECT $r, bg, df FROM bg$r"
    }.mkString("\n")
    val dF = s"d${BpeRounds + 1}"
    s"""d1 AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |), $chain,
       |numbered AS (
       |  SELECT phrase,
       |    row_number() OVER (ORDER BY round, df DESC, phrase) AS id
       |  FROM (
       |$union)
       |), mt AS (SELECT phrase, MIN(id) AS id FROM numbered GROUP BY 1),
       |mtot AS (SELECT COUNT(*) AS m FROM numbered),
       |base0 AS (
       |  SELECT tok, COUNT(*) AS cnt
       |  FROM (SELECT unnest(toks) AS tok FROM $dF) GROUP BY 1
       |), basek AS (
       |  SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) AS r
       |  FROM base0 QUALIFY r <= $EncodeBaseK
       |), basev AS (SELECT tok, r + (SELECT m FROM mtot) AS id FROM basek),
       |p1 AS (
       |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM $dF
       |), p2 AS (
       |  SELECT doc_id, i, toks[i] AS tok, len(toks) AS n FROM p1
       |), pid AS (
       |  SELECT p2.doc_id, p2.i, p2.n, p2.tok,
       |    COALESCE(mt.id, basev.id, 0) AS id
       |  FROM p2 LEFT JOIN mt ON p2.tok = mt.phrase
       |          LEFT JOIN basev ON p2.tok = basev.tok
       |)""".stripMargin
  }

  val bpeEncodeSql: String =
    s"""WITH RECURSIVE $bpeIdAssignCtes
       |SELECT doc_id, CAST(MAX(n) AS INT) AS n_tokens,
       |  CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS INT) AS n_oov,
       |  md5(array_to_string(list(id ORDER BY i), ',')) AS ids_fp
       |FROM pid GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Twin (C73): the SAME id-assignment prefix, inverted — each position's
    * id decodes to its merged token (ids are exact-equality, so the
    * preimage is the token itself), the token splits on `_` into its
    * pre-merge tokens, OOV decodes to `<unk>`; the space-joined decode
    * compares against the raw stream (tokens are whitespace-split, so the
    * join is faithful). */
  val bpeRoundtripSql: String =
    s"""WITH RECURSIVE $bpeIdAssignCtes,
       |dec AS (
       |  SELECT doc_id, i, n,
       |    CASE WHEN id = 0 THEN 1 ELSE 0 END AS oov,
       |    CASE WHEN id = 0 THEN ['<unk>']
       |         ELSE string_split(tok, '_') END AS dtoks
       |  FROM pid
       |), agg AS (
       |  SELECT doc_id, CAST(MAX(n) AS INT) AS n_tokens,
       |    CAST(SUM(oov) AS INT) AS n_oov,
       |    CAST(SUM(len(dtoks)) AS INT) AS n_decoded,
       |    array_to_string(flatten(list(dtoks ORDER BY i)), ' ') AS dtxt
       |  FROM dec GROUP BY doc_id
       |)
       |SELECT a.doc_id, a.n_tokens, a.n_oov,
       |  CAST(len(r.toks) AS INT) AS n_ws, a.n_decoded,
       |  CAST(dtxt = array_to_string(r.toks, ' ') AS INT) AS lossless
       |FROM agg a JOIN d1 r ON a.doc_id = r.doc_id
       |ORDER BY a.doc_id""".stripMargin

  // --- C33: sharded training-data export -----------------------------------
  /** Shards for the export layout. 16 here; thousands at deploy scale —
    * write parallelism and downstream loader parallelism both equal the
    * shard count, so size it to the trainer's data-loader world size. */
  val ExportNumShards = 16

  /** Per-document export assignment: shard = md5-derived 48-bit hash mod
    * [[ExportNumShards]] — a pure function of doc_id, so the layout is
    * reshard-stable (rerunning the export after a repartition or engine
    * swap moves no document) and any shard can be rebuilt alone. */
  def exportAssignOn(documents: DataFrame, idCol: String,
      textCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards=$nShards must be >= 1")
    val h48 = conv(substring(md5(concat(col(idCol).cast("string"),
      lit(":export"))), 1, 12), 16, 10).cast("long")
    val c48 = conv(substring(md5(col(textCol)), 1, 12), 16, 10).cast("long")
    documents.select(col(idCol).as("doc_id"), col(textCol).as("text"),
      (h48 % nShards).cast("int").as("shard"),
      size(TextOps.tokens(col(textCol))).cast("bigint").as("n_tokens"),
      octet_length(col(textCol)).cast("bigint").as("n_bytes"),
      c48.as("content_h48"))
  }

  /** Per-shard export manifest: document/token/byte totals plus an
    * ORDER-FREE content checksum (bit_xor of each document's md5-derived
    * 48-bit content hash) — the property that lets a consumer verify a
    * shard after any reshuffle, and lets two independent export runs be
    * compared shard-by-shard without reading the data.
    *
    * Scale shape: assignment is a pure map stage; the manifest is one
    * partial-agg shuffle carrying O(shards) rows. The data itself lands
    * via [[graft.sources.Sinks.writePartitionedParquet]] partitioned by
    * `shard` — bounded file counts, shard-dir pruning for loaders. */
  def exportManifestOn(assigned: DataFrame): DataFrame =
    assigned
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_bytes")).as("n_bytes"),
        expr("bit_xor(content_h48)").as("content_xor"))
      .orderBy(col("shard"))

  def exportShards(spark: SparkSession, dir: String): DataFrame =
    exportManifestOn(exportAssignOn(Tables(spark, dir).documents,
      "doc_id", "text", ExportNumShards))

  // --- C80: unigram-LM (SentencePiece-style) tokenizer ---------------------
  /** The SECOND tokenizer family (Kudo 2018), beside the BPE lifecycle
    * (C52/C60/C73): instead of greedy merge rules, a unigram LM over a
    * piece vocabulary with Viterbi-EM training — candidates are mined
    * substrings, each EM round re-segments every word under the current
    * piece costs and re-estimates counts from the best segmentations.
    * Probabilistic-sampling regularization (subword dropout) is out of
    * scope; the hard-EM (Viterbi) variant here is the deterministic core
    * both engines can replay bit-exactly.
    *
    * Scale shape: training statistics live on the WORD HISTOGRAM (one
    * corpus aggregation, then every EM pass runs over the bounded
    * histogram — never the corpus again); the trained vocabulary is a
    * driver literal (≤ UniCandK + alphabet); final encoding is ONE
    * codegen kernel pass over the corpus (broadcast costs, zero joins,
    * zero shuffles before the gate sort). Parity: piece costs are
    * micro-nat-quantized lns of integer counts (the C31/C49 discipline);
    * the DP and its tie rule (smallest split point at equal cost) are
    * integer-exact; the oracle replays the same lattice via recursive
    * CTEs carrying each word's best-cost list — the FFD-loads trick
    * applied to Viterbi. */
  val UniMaxPieceLen = 6
  /** Multi-char candidate cut ((cnt desc, piece) — deterministic in both
    * engines); single chars always survive so the DP is total. */
  val UniCandK = 4000
  /** Word-histogram cap: mining and EM statistics run over the top-W
    * words — the SentencePiece training-sample bound. Encoding segments
    * every token map-side regardless (no word table at encode time), so
    * the cap bounds TRAINING state only. */
  val UniWordW = 50000
  val UniEmRounds = 2
  private val UniQuantumSql = "1e6"

  /** counts → (sorted cost table, unknown-single-char cost): cost(p) =
    * floor((ln Σcnt − ln cnt_p)·1e6), unk = floor(ln Σcnt·1e6) (a
    * count-1 singleton). scala math.log IS Spark's ln (both
    * java.lang.Math.log); DuckDB parity is the integer-input-ln
    * argument. */
  private[graft] def uniCostsOf(counts: Map[String, Long]): (Seq[(String, Long)], Long) = {
    val lt = math.log(counts.values.sum.toDouble)
    (counts.toSeq.map { case (p, c) =>
        p -> math.floor((lt - math.log(c.toDouble)) * 1e6).toLong }
      .sortBy(_._1),
      math.floor(lt * 1e6).toLong)
  }

  /** Frequency-weighted word histogram with the top-W training cut. */
  private def uniWordsOf(docs: DataFrame): DataFrame =
    docs.select(explode(col("toks")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(UniWordW)
      .localCheckpoint(eager = true)

  /** Round-0 candidates: every substring occurrence (length 1..L) over
    * the capped histogram, frequency-weighted; ALL singles + top-K
    * multis. Bounded driver literal (the lmVocabOf pattern). */
  private def uniCandidatesOf(words: DataFrame): Map[String, Long] = {
    val sub = words.select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("freq"), col("i"),
        explode(sequence(lit(1), least(lit(UniMaxPieceLen),
          length(col("word")) - col("i") + lit(1)))).as("l"))
      .select(expr("substring(word, i, l)").as("piece"), col("freq"), col("l"))
    val singles = sub.filter(col("l") === 1)
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    val multis = sub.filter(col("l") >= 2)
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("piece")).limit(UniCandK)
    (singles.collect() ++ multis.collect())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Viterbi-EM over the word histogram: round r's counts are the
    * frequency-weighted piece usage in each word's best segmentation
    * under round r−1's costs. MULTI-char pieces never used drop out (the
    * unigram analogue of SentencePiece's prune step) and can never
    * return; a pruned SINGLE char can re-enter a later round through the
    * unk-cost fallback (its word may re-segment through it once other
    * pieces' costs shift) — that totality valve is the only growth path.
    * Returns the per-round count snapshots (round 0 = raw candidates). */
  private[graft] def uniTrain(docs: DataFrame,
      words0: Option[DataFrame] = None): Seq[Map[String, Long]] = {
    import graft.functions.textsketch.unigram_segment_all
    val words = words0.getOrElse(uniWordsOf(docs))
    var counts = uniCandidatesOf(words)
    val snaps = Seq.newBuilder[Map[String, Long]]
    snaps += counts
    for (_ <- 1 to UniEmRounds) {
      val (costs, unk) = uniCostsOf(counts)
      counts = words.select(col("freq"),
          explode(unigram_segment_all(array(col("word")), costs,
            UniMaxPieceLen, unk)).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      snaps += counts
    }
    snaps.result()
  }

  private[graft] def uniDocsOf(documents: DataFrame, idCol: String,
      textCol: String): DataFrame =
    documents.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))

  /** The trained vocabulary per EM round — (round, piece, cnt): round 0
    * is the raw candidate mass, later rounds the Viterbi-usage counts.
    * The export IS the model artifact (the C52 export discipline). */
  def unigramVocabOn(documents: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val snaps = uniTrain(uniDocsOf(documents, idCol, textCol))
    snaps.zipWithIndex
      .flatMap { case (m, r) => m.toSeq.map { case (p, c) => (r, p, c) } }
      .toDF("round", "piece", "cnt")
      .orderBy(col("round"), col("piece"))
  }

  def unigramVocab(spark: SparkSession, dir: String): DataFrame =
    unigramVocabOn(Tables(spark, dir).documents, "doc_id", "text")

  /** Encode under the final EM round's costs: per-doc piece stats +
    * fertility + the md5 fingerprint of the exact piece sequence (the
    * C60 ids_fp discipline — atomic columns, full-sequence pinning). One
    * kernel map pass; the only exchange is the gate sort. */
  def unigramEncodeOn(documents: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val docs = uniDocsOf(documents, idCol, textCol)
    val snaps = uniTrain(docs)
    val (costs, unk) = uniCostsOf(snaps.last)
    unigramEncodeWith(costs, unk, documents, idCol, textCol)
      .orderBy(col("doc_id"))
  }

  /** The encode pass alone, under FROZEN piece costs — no training, no
    * gate sort: the recurring-caller shape (B64 runs this per micro-batch
    * with the model trained once, offline — the nbScore discipline). */
  private[graft] def unigramEncodeWith(costs: Seq[(String, Long)], unk: Long,
      documents: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.textsketch.unigram_segment_all
    uniDocsOf(documents, idCol, textCol)
      .select(col("doc_id"), col("toks"),
        unigram_segment_all(col("toks"), costs, UniMaxPieceLen, unk)
          .as("pieces"))
      .select(col("doc_id"),
        size(col("toks")).cast("int").as("n_tokens"),
        size(col("pieces")).cast("int").as("n_pieces"),
        (size(col("pieces")).cast("double") /
          size(col("toks")).cast("double")).as("fertility"),
        md5(concat_ws(",", col("pieces"))).as("pieces_fp"))
  }

  def unigramEncode(spark: SparkSession, dir: String): DataFrame =
    unigramEncodeOn(Tables(spark, dir).documents, "doc_id", "text")

  /** One Viterbi block over `wordsCte` under `costsCte`/`unkCte`: the
    * lattice arcs (singles COALESCE to unk — the DP totality rule),
    * the forward DP as a recursion carrying each word's best-cost LIST
    * (all words advance in lockstep on position i), and the backtrace
    * picking the FIRST arc (j ascending) achieving best[i] — exactly
    * the kernel's strict-< argmin. Emits seg$s = (word, pieces). */
  private def uniViterbiCtes(s: String, wordsCte: String, costsCte: String,
      unkCte: String): String =
    s"""pl$s AS (
       |  SELECT word, i, unnest(range(1, least($UniMaxPieceLen, i) + 1)) AS l
       |  FROM (SELECT word, unnest(range(1, length(word) + 1)) AS i
       |        FROM $wordsCte)
       |), arc$s AS (
       |  SELECT p.word, p.i, p.i - p.l AS j,
       |         substr(p.word, CAST(p.i - p.l + 1 AS INT), CAST(p.l AS INT)) AS piece,
       |         CASE WHEN p.l = 1 THEN COALESCE(c.cost, (SELECT unk FROM $unkCte))
       |              ELSE c.cost END AS cost
       |  FROM pl$s p LEFT JOIN $costsCte c
       |    ON c.piece = substr(p.word, CAST(p.i - p.l + 1 AS INT), CAST(p.l AS INT))
       |  WHERE p.l = 1 OR c.piece IS NOT NULL
       |), arcg$s AS (
       |  SELECT word, i,
       |         list(struct_pack(j := j, piece := piece, c := cost)
       |              ORDER BY j) AS arcs
       |  FROM arc$s GROUP BY 1, 2
       |), r$s AS (
       |  SELECT word, CAST(0 AS BIGINT) AS i, [CAST(0 AS BIGINT)] AS best
       |  FROM $wordsCte
       |  UNION ALL
       |  SELECT r.word, g.i,
       |    list_append(r.best,
       |      list_min(list_transform(g.arcs, a -> r.best[a.j + 1] + a.c)))
       |  FROM r$s r JOIN arcg$s g ON g.word = r.word AND g.i = r.i + 1
       |), fin$s AS (
       |  SELECT word, best FROM r$s WHERE i = length(word)
       |), bt$s AS (
       |  SELECT word, length(word) AS p, CAST([] AS VARCHAR[]) AS pieces,
       |         best
       |  FROM fin$s
       |  UNION ALL
       |  SELECT word, a.j AS p, list_prepend(a.piece, pieces) AS pieces, best
       |  FROM (
       |    SELECT b.word, b.pieces, b.best,
       |      g.arcs[list_position(
       |        list_transform(g.arcs, x -> b.best[x.j + 1] + x.c),
       |        b.best[b.p + 1])] AS a
       |    FROM bt$s b JOIN arcg$s g ON g.word = b.word AND g.i = b.p)
       |), seg$s AS (SELECT word, pieces FROM bt$s WHERE p = 0)""".stripMargin

  /** cnt/t/c/u CTEs for one round from a (word, pieces) segmentation. */
  private def uniRoundCountCtes(r: Int, segCte: String): String =
    s"""cnt$r AS (
       |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM (SELECT word, unnest(pieces) AS piece FROM $segCte)
       |  JOIN w USING (word) GROUP BY 1
       |), t$r AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnt$r),
       |c$r AS (
       |  SELECT piece, CAST(floor((ln(CAST(total AS DOUBLE)) -
       |    ln(CAST(cnt AS DOUBLE))) * $UniQuantumSql) AS BIGINT) AS cost
       |  FROM cnt$r CROSS JOIN t$r
       |), u$r AS (
       |  SELECT CAST(floor(ln(CAST(total AS DOUBLE)) * $UniQuantumSql)
       |    AS BIGINT) AS unk FROM t$r)""".stripMargin

  /** Shared trainer prefix: docs → capped histogram → round-0 candidates
    * → costs → UniEmRounds of (Viterbi over w → counts → costs). Ends
    * with cnt/c/u for every round 1..R. */
  private def uniTrainCtes: String = {
    val head =
      s"""d AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
         |  FROM documents
         |), w AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(toks) AS word FROM d)
         |  GROUP BY 1 ORDER BY freq DESC, word LIMIT $UniWordW
         |), cand0 AS (
         |  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
         |         freq, l
         |  FROM (
         |    SELECT word, freq, i,
         |      unnest(range(1, least($UniMaxPieceLen,
         |                            length(word) - i + 1) + 1)) AS l
         |    FROM (SELECT word, freq,
         |            unnest(range(1, length(word) + 1)) AS i FROM w))
         |), cnt0 AS (
         |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM cand0 WHERE l = 1 GROUP BY 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
         |    FROM cand0 WHERE l >= 2 GROUP BY 1
         |    ORDER BY cnt DESC, piece LIMIT $UniCandK)
         |), t0 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnt0),
         |c0 AS (
         |  SELECT piece, CAST(floor((ln(CAST(total AS DOUBLE)) -
         |    ln(CAST(cnt AS DOUBLE))) * $UniQuantumSql) AS BIGINT) AS cost
         |  FROM cnt0 CROSS JOIN t0
         |), u0 AS (
         |  SELECT CAST(floor(ln(CAST(total AS DOUBLE)) * $UniQuantumSql)
         |    AS BIGINT) AS unk FROM t0)""".stripMargin
    val rounds = (1 to UniEmRounds).map { r =>
      uniViterbiCtes(s"e$r", "w", s"c${r - 1}", s"u${r - 1}") + ",\n" +
        uniRoundCountCtes(r, s"sege$r")
    }
    (head +: rounds).mkString(",\n")
  }

  /** Twin: rounds 0..R of the count snapshots. */
  lazy val unigramVocabSql: String = {
    val union = (0 to UniEmRounds)
      .map(r => s"SELECT CAST($r AS INT) AS round, piece, cnt FROM cnt$r")
      .mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE $uniTrainCtes
       |$union
       |ORDER BY round, piece""".stripMargin
  }

  /** Twin: the final round's costs segment EVERY distinct corpus word
    * (encoding is uncapped — the cap bounds training statistics only),
    * then per-doc stats roll up with the fingerprint over the ordered
    * piece sequence. */
  lazy val unigramEncodeSql: String = {
    val R = UniEmRounds
    s"""WITH RECURSIVE $uniTrainCtes,
       |wa AS (SELECT DISTINCT unnest(toks) AS word FROM d),
       |${uniViterbiCtes("f", "wa", s"c$R", s"u$R")},
       |td AS (
       |  SELECT doc_id, unnest(toks) AS word,
       |         generate_subscripts(toks, 1) AS ti
       |  FROM d
       |), enc AS (
       |  SELECT td.doc_id, td.ti, sf.pieces
       |  FROM td JOIN segf sf ON sf.word = td.word)
       |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
       |  CAST(SUM(len(pieces)) AS INT) AS n_pieces,
       |  CAST(SUM(len(pieces)) AS DOUBLE) / COUNT(*) AS fertility,
       |  md5(string_agg(array_to_string(pieces, ','), ',' ORDER BY ti))
       |    AS pieces_fp
       |FROM enc GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // --- C81: WordPiece (BERT-style) tokenizer -------------------------------
  /** The THIRD tokenizer family (Schuster & Nakajima 2012; Wu et al. 2016
    * — BERT's tokenizer), beside BPE (C52/C60/C73) and the unigram LM
    * (C80): training greedily merges the adjacent unit pair maximizing
    * the likelihood score count(ab)/(count(a)·count(b)) — BPE's
    * frequency argmax normalized by the parts, so rare-but-cohesive
    * pairs win over merely-common ones — and ENCODING is greedy
    * longest-match-first over the final vocabulary (`##` continuations,
    * whole-word `[UNK]` on any miss), NOT a merge replay: the encode/
    * train asymmetry is the family's defining trait.
    *
    * Scale shape: training statistics live on the SAME capped word
    * histogram as C80 (one corpus aggregation; every merge round runs
    * driver-side over ≤[[UniWordW]] bounded rows — the lmVocabOf
    * pattern); the merge table is [[WpRounds]] rows and the encode
    * vocabulary a bounded driver literal; encoding is ONE codegen kernel
    * pass per doc ([[graft.functions.WordpieceSegmentAll]] — broadcast
    * vocabulary as a reference object, zero joins). Parity: the merge
    * score is floor((ln cab − ln ca − ln cb)·1e6) on integer-input lns
    * (the C31 grid), tiebreak (a, b) ascending; the oracle replays every
    * round's leftmost-nonoverlapping merge walk one unit per recursion
    * step (the phrase-merge walk discipline) and the encoder's
    * longest-match walk one piece per step. */
  val WpRounds = 16

  /** One trained merge: the pair, its spelling, and the quantized score
    * (the export IS the model artifact — the C52 discipline). */
  private[graft] case class WpMerge(round: Int, a: String, b: String,
      merged: String, scoreQ: Long)

  /** A word's initial units: first char bare, the rest `##`-prefixed. */
  private def wpInitUnits(word: String): Array[String] = {
    val out = new Array[String](word.length)
    var i = 0
    while (i < word.length) {
      out(i) = if (i == 0) word.substring(0, 1) else "##" + word.charAt(i)
      i += 1
    }
    out
  }

  /** Leftmost-nonoverlapping single-merge application — the walk both
    * the oracle's recursion and BPE-family semantics demand ("a a a"
    * under (a,a) → "aa a", never "a aa"). */
  private def wpApplyMerge(u: Array[String], a: String, b: String,
      m: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < u.length) {
      if (i + 1 < u.length && u(i) == a && u(i + 1) == b) { out += m; i += 2 }
      else { out += u(i); i += 1 }
    }
    out.result()
  }

  /** [[WpRounds]] likelihood-argmax merge rounds over the (word, freq)
    * histogram — driver-side: the histogram is bounded ([[UniWordW]]),
    * so each round's pair/unit counting is a few-ms loop, not a job.
    * Deterministic: quantized ln score, (a, b)-ascending tiebreak. */
  private[graft] def wpTrain(words: Seq[(String, Long)],
      rounds: Int = WpRounds): Seq[WpMerge] = {
    var segs = words.map { case (w, f) => (wpInitUnits(w), f) }
    val merges = Seq.newBuilder[WpMerge]
    for (r <- 1 to rounds) {
      val pc = collection.mutable.HashMap.empty[(String, String), Long]
      val uc = collection.mutable.HashMap.empty[String, Long]
      segs.foreach { case (u, f) =>
        var i = 0
        while (i < u.length) {
          uc.update(u(i), uc.getOrElse(u(i), 0L) + f)
          if (i + 1 < u.length) {
            val k = (u(i), u(i + 1))
            pc.update(k, pc.getOrElse(k, 0L) + f)
          }
          i += 1
        }
      }
      // fail loudly rather than silently under-train (the oracle's walk
      // would diverge if a round had no pair to merge)
      require(pc.nonEmpty, s"wordpiece: no adjacent pairs left at round $r")
      val (a, b, sq) = pc.iterator.map { case ((x, y), cab) =>
        (x, y, math.floor((math.log(cab.toDouble) - math.log(uc(x).toDouble) -
          math.log(uc(y).toDouble)) * 1e6).toLong)
      }.toSeq.minBy { case (x, y, s) => (-s, x, y) }
      require(b.startsWith("##"), s"pair position is not a continuation: $b")
      val m = a + b.substring(2)
      merges += WpMerge(r, a, b, m, sq)
      segs = segs.map { case (u, f) => (wpApplyMerge(u, a, b, m), f) }
    }
    merges.result()
  }

  /** The encode vocabulary: the training histogram's alphabet (every
    * initial unit) plus the merged spellings — greedy longest-match
    * needs MEMBERSHIP only, no costs. */
  private[graft] def wpVocabOf(words: Seq[(String, Long)],
      merges: Seq[WpMerge]): Seq[String] =
    (words.iterator.flatMap(w => wpInitUnits(w._1)) ++
      merges.iterator.map(_.merged)).toSet.toSeq.sorted

  /** The capped histogram as a driver literal (≤[[UniWordW]] rows —
    * the same cap, same (freq desc, word) cut as C80's trainer). */
  private[graft] def wpWordsOf(documents: DataFrame, idCol: String,
      textCol: String): Seq[(String, Long)] =
    uniWordsOf(uniDocsOf(documents, idCol, textCol))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** The trained merge table — (round, a, b, merged, score_q). */
  def wordpieceVocabOn(documents: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    wpTrain(wpWordsOf(documents, idCol, textCol))
      .map(m => (m.round, m.a, m.b, m.merged, m.scoreQ))
      .toDF("round", "a", "b", "merged", "score_q")
      .orderBy(col("round"))
  }

  def wordpieceVocab(spark: SparkSession, dir: String): DataFrame =
    wordpieceVocabOn(Tables(spark, dir).documents, "doc_id", "text")

  /** Encode every document under the trained vocabulary: per-doc piece
    * stats + unk count + fertility + the md5 fingerprint of the exact
    * piece sequence (the C60/C80 ids_fp discipline). One kernel map
    * pass; n_unk avoids the interpreted-HOF trap via array_remove
    * (codegen'd) rather than a filter lambda. */
  def wordpieceEncodeOn(documents: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val words = wpWordsOf(documents, idCol, textCol)
    wordpieceEncodeWith(wpVocabOf(words, wpTrain(words)), documents,
      idCol, textCol).orderBy(col("doc_id"))
  }

  /** The encode pass alone, under a FROZEN vocabulary — no training, no
    * gate sort (the unigramEncodeWith discipline: recurring callers and
    * rollups never pay a discarded sort). */
  private[graft] def wordpieceEncodeWith(vocab: Seq[String],
      documents: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.textsketch.wordpiece_segment_all
    uniDocsOf(documents, idCol, textCol)
      .select(col("doc_id"), col("toks"),
        wordpiece_segment_all(col("toks"), vocab).as("pieces"))
      .select(col("doc_id"),
        size(col("toks")).cast("int").as("n_tokens"),
        size(col("pieces")).cast("int").as("n_pieces"),
        (size(col("pieces")) -
          size(array_remove(col("pieces"), "[UNK]"))).cast("int").as("n_unk"),
        (size(col("pieces")).cast("double") /
          size(col("toks")).cast("double")).as("fertility"),
        md5(concat_ws(",", col("pieces"))).as("pieces_fp"))
  }

  def wordpieceEncode(spark: SparkSession, dir: String): DataFrame =
    wordpieceEncodeOn(Tables(spark, dir).documents, "doc_id", "text")

  /** One merge round as CTEs: pair/unit counts over seg `$prev`, the
    * quantized-ln argmax, and the leftmost-nonoverlapping merge walk
    * (one unit per recursion step — a word's pointer either consumes
    * the matched pair or copies one unit). */
  private def wpRoundCtes(r: Int, prev: String): String =
    s"""pr$r AS (
       |  SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cab
       |  FROM (SELECT word, units[i] AS a, units[i + 1] AS b
       |        FROM $prev, unnest(range(1, len(units))) t(i))
       |  JOIN w USING (word) GROUP BY 1, 2
       |), uc$r AS MATERIALIZED (
       |  SELECT unit, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM (SELECT word, unnest(units) AS unit FROM $prev)
       |  JOIN w USING (word) GROUP BY 1
       |), best$r AS MATERIALIZED (
       |  SELECT a, b, a || substr(b, 3) AS m, sq
       |  FROM (
       |    SELECT p.a, p.b,
       |      CAST(floor((ln(CAST(p.cab AS DOUBLE)) - ln(CAST(ua.cnt AS DOUBLE))
       |        - ln(CAST(ub.cnt AS DOUBLE))) * $UniQuantumSql) AS BIGINT) AS sq
       |    FROM pr$r p JOIN uc$r ua ON ua.unit = p.a
       |    JOIN uc$r ub ON ub.unit = p.b)
       |  ORDER BY sq DESC, a, b LIMIT 1
       |), mw$r AS (
       |  SELECT word, units, CAST(1 AS BIGINT) AS p,
       |         CAST([] AS VARCHAR[]) AS acc
       |  FROM $prev
       |  UNION ALL
       |  SELECT m.word, m.units,
       |    CASE WHEN m.p < len(m.units) AND m.units[m.p] = b.a
       |              AND m.units[m.p + 1] = b.b
       |         THEN m.p + 2 ELSE m.p + 1 END,
       |    list_append(m.acc,
       |      CASE WHEN m.p < len(m.units) AND m.units[m.p] = b.a
       |                AND m.units[m.p + 1] = b.b
       |           THEN b.m ELSE m.units[m.p] END)
       |  FROM mw$r m CROSS JOIN best$r b
       |  WHERE m.p <= len(m.units)
       |), s$r AS MATERIALIZED (SELECT word, acc AS units FROM mw$r WHERE p = len(units) + 1)""".stripMargin

  /** Shared trainer prefix: the C80 histogram spelling (d/w), the
    * initial `##`-unit segmentation, then [[WpRounds]] unrolled merge
    * rounds — ends with best1..bestR and s0..sR. */
  private def wpTrainCtes: String = {
    val head =
      s"""d AS MATERIALIZED (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
         |  FROM documents
         |), w AS MATERIALIZED (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(toks) AS word FROM d)
         |  GROUP BY 1 ORDER BY freq DESC, word LIMIT $UniWordW
         |), s0 AS MATERIALIZED (
         |  SELECT word, list_transform(range(1, length(word) + 1),
         |    i -> CASE WHEN i = 1 THEN substr(word, 1, 1)
         |              ELSE '##' || substr(word, CAST(i AS INT), 1) END) AS units
         |  FROM w)""".stripMargin
    (head +: (1 to WpRounds).map(r => wpRoundCtes(r, s"s${r - 1}")))
      .mkString(",\n")
  }

  /** Twin: the merge table, one row per round's argmax. */
  lazy val wordpieceVocabSql: String = {
    val union = (1 to WpRounds)
      .map(r => s"SELECT CAST($r AS INT) AS round, a, b, m AS merged, " +
        s"sq AS score_q FROM best$r")
      .mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE $wpTrainCtes
       |$union
       |ORDER BY round""".stripMargin
  }

  /** Twin: vocabulary = s0's alphabet + merged spellings; every distinct
    * corpus word walks greedy longest-match (bl = the longest vocab
    * match per position, precomputed — the arcg discipline — so the
    * recursion is one piece per step with no aggregate inside), failing
    * whole-word to `[UNK]`; per-doc stats roll up in token order. */
  lazy val wordpieceEncodeSql: String = {
    val R = WpRounds
    val merged = (1 to R).map(r => s"SELECT m FROM best$r")
      .mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE $wpTrainCtes,
       |voc AS MATERIALIZED (
       |  SELECT DISTINCT unnest(units) AS piece FROM s0
       |  UNION
       |  SELECT DISTINCT m AS piece FROM ($merged)
       |), wa AS MATERIALIZED (SELECT DISTINCT unnest(toks) AS word FROM d),
       |gl AS MATERIALIZED (
       |  SELECT word, p, CAST(MAX(l) AS BIGINT) AS bl
       |  FROM (
       |    SELECT word, p, l,
       |      CASE WHEN p = 1 THEN substr(word, 1, CAST(l AS INT))
       |           ELSE '##' || substr(word, CAST(p AS INT), CAST(l AS INT)) END
       |        AS cand
       |    FROM (
       |      SELECT word, p, unnest(range(1, length(word) - p + 2)) AS l
       |      FROM (SELECT word, unnest(range(1, length(word) + 1)) AS p
       |            FROM wa)))
       |  JOIN voc v ON v.piece = cand
       |  GROUP BY 1, 2
       |), gm AS (
       |  SELECT word, CAST(1 AS BIGINT) AS p, CAST([] AS VARCHAR[]) AS pieces
       |  FROM wa
       |  UNION ALL
       |  SELECT g.word,
       |    CASE WHEN x.bl IS NULL THEN length(g.word) + 1
       |         ELSE g.p + x.bl END,
       |    CASE WHEN x.bl IS NULL THEN ['[UNK]']
       |         ELSE list_append(g.pieces,
       |           CASE WHEN g.p = 1 THEN substr(g.word, 1, CAST(x.bl AS INT))
       |                ELSE '##' || substr(g.word, CAST(g.p AS INT),
       |                                    CAST(x.bl AS INT)) END) END
       |  FROM gm g LEFT JOIN gl x ON x.word = g.word AND x.p = g.p
       |  WHERE g.p <= length(g.word)
       |), segw AS MATERIALIZED (SELECT word, pieces FROM gm WHERE p = length(word) + 1),
       |td AS (
       |  SELECT doc_id, unnest(toks) AS word,
       |         generate_subscripts(toks, 1) AS ti
       |  FROM d
       |), enc AS (
       |  SELECT td.doc_id, td.ti, sw.pieces
       |  FROM td JOIN segw sw ON sw.word = td.word)
       |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
       |  CAST(SUM(len(pieces)) AS INT) AS n_pieces,
       |  CAST(SUM(len(list_filter(pieces, x -> x = '[UNK]'))) AS INT) AS n_unk,
       |  CAST(SUM(len(pieces)) AS DOUBLE) / COUNT(*) AS fertility,
       |  md5(string_agg(array_to_string(pieces, ','), ',' ORDER BY ti))
       |    AS pieces_fp
       |FROM enc GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // --- C91: vocabulary growth curve (Heaps' law) ---------------------------
  /** Number of growth checkpoints. */
  val VocabGrowthBins = 10

  /** The type/token growth curve (Heaps 1978): cumulative distinct
    * vocabulary vs cumulative token mass at ten ingestion checkpoints —
    * THE empirical input to vocabulary sizing (how big must the
    * tokenizer vocab be at 10× the corpus?) and to dedup-health
    * monitoring (a flattening curve on a growing feed means incoming
    * text repeats what the corpus already holds).
    *
    * Checkpoints are VALUE-binned over the doc-id span (min + c·span/10
    * — the zorder normalization pattern: one 1-row stats agg broadcast
    * back), not equal-count ranks: rank deciles would need a global
    * sort/window over the corpus, value bins are a pure map. A type's
    * first appearance is min(first doc id) per token — one
    * vocab-bounded agg — and both cumulative curves are 10-row window
    * sums over per-bin partials. Integer-exact end to end.
    * 4-exchange budget pinned (measured 4 — two bounded aggs + the
    * 10-row join/window pair). */
  def vocabGrowthOn(documents: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val docs = documents.select(col(idCol).as("doc_id"),
      size(TextOps.tokens(col(textCol))).cast("bigint").as("n_tokens"),
      explode(TextOps.tokens(col(textCol))).as("tok"))
    val s = documents.agg(min(col(idCol)), max(col(idCol))).head()
    val (lo, hi) = (s.getLong(0), s.getLong(1))
    val span = math.max(1L, hi - lo + 1)
    // bin c ∈ [1, 10]: docs with doc_id < lo + c·span/10 land in bins ≤ c
    val binOf = least(lit(VocabGrowthBins.toLong),
      expr(s"((doc_id - ${lo}L) * ${VocabGrowthBins}L) div ${span}L") + 1)
    val perBinTokens = documents
      .select(col(idCol).as("doc_id"),
        size(TextOps.tokens(col(textCol))).cast("bigint").as("n_tokens"))
      .groupBy(binOf.as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val perBinTypes = docs
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
      .select((least(lit(VocabGrowthBins.toLong),
        expr(s"((first_doc - ${lo}L) * ${VocabGrowthBins}L) div ${span}L") + 1))
        .as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_new_types"))
    val w = Window.partitionBy(BoundedBoard.pinnedZero(col("bin")))
      .orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBinTokens.join(perBinTypes, Seq("bin"), "left")
      .select(col("bin").cast("int").as("decile"),
        sum(col("n_docs")).over(w).as("n_docs_cum"),
        sum(col("n_tokens")).over(w).as("n_tokens_cum"),
        sum(coalesce(col("n_new_types"), lit(0L))).over(w).as("n_types_cum"))
      .orderBy(col("decile"))
  }

  def vocabGrowth(spark: SparkSession, dir: String): DataFrame =
    vocabGrowthOn(Tables(spark, dir).documents, "doc_id", "text")

  /** Twin: same value bins, same first-appearance aggregation, same
    * 10-row cumulative windows. */
  val vocabGrowthSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |), st AS (
       |  SELECT MIN(doc_id) AS lo,
       |         GREATEST(1, MAX(doc_id) - MIN(doc_id) + 1) AS span
       |  FROM documents
       |), bt AS (
       |  SELECT LEAST($VocabGrowthBins,
       |           ((doc_id - lo) * $VocabGrowthBins) // span + 1) AS bin,
       |         CAST(len(toks) AS BIGINT) AS n_tokens
       |  FROM d CROSS JOIN st
       |), pbtok AS (
       |  SELECT bin, COUNT(*) AS n_docs,
       |         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |  FROM bt GROUP BY 1
       |), fd AS (
       |  SELECT tok, MIN(doc_id) AS first_doc
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM d) GROUP BY 1
       |), pbtyp AS (
       |  SELECT LEAST($VocabGrowthBins,
       |           ((first_doc - lo) * $VocabGrowthBins) // span + 1) AS bin,
       |         COUNT(*) AS n_new_types
       |  FROM fd CROSS JOIN st GROUP BY 1
       |)
       |SELECT CAST(p.bin AS INT) AS decile,
       |  CAST(SUM(p.n_docs) OVER wc AS BIGINT) AS n_docs_cum,
       |  CAST(SUM(p.n_tokens) OVER wc AS BIGINT) AS n_tokens_cum,
       |  CAST(SUM(COALESCE(t.n_new_types, 0)) OVER wc AS BIGINT)
       |    AS n_types_cum
       |FROM pbtok p LEFT JOIN pbtyp t ON p.bin = t.bin
       |WINDOW wc AS (ORDER BY p.bin
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY decile""".stripMargin

  // --- C82: cross-family tokenizer comparison board ------------------------
  /** The tokenizer-selection board a pipeline runs BEFORE committing to a
    * vocabulary: all three trained families (BPE merge chain C52/C60,
    * unigram LM C80, WordPiece C81) encode the same corpus and one row
    * per family reports corpus-level fertility and unk exposure.
    * Families measure "unk" at their own segmentation level: the BPE
    * merge stage and the unigram DP are total (0 — BPE's id-level OOV
    * is C62/C71's separate axis), WordPiece fails whole words.
    *
    * Scale shape: three corpus map passes (each family's own kernel —
    * no new spelling anywhere) into three 1-row partial aggs; the union
    * is 3 rows. Each family's oracle subquery IS its existing twin
    * verbatim ([[vocabFertilitySql]]'s apply chain /
    * [[unigramEncodeSql]] / [[wordpieceEncodeSql]]) — the board cannot
    * fork any encoder it compares. 3-exchange budget pinned. */
  def tokenizerCompareOn(documents: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val docs = uniDocsOf(documents, idCol, textCol)
    def board(family: String, perDoc: DataFrame, unkCol: Column): DataFrame =
      perDoc.agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("n_tokens"),
          sum(col("n_pieces").cast("long")).as("n_pieces"),
          sum(unkCol.cast("long")).as("n_unk"))
        .select(lit(family).as("family"), col("n_docs"), col("n_tokens"),
          col("n_pieces"), col("n_unk"),
          (col("n_pieces").cast("double") / col("n_tokens").cast("double"))
            .as("fertility"),
          (col("n_unk").cast("double") / col("n_tokens").cast("double"))
            .as("unk_rate"))
    val (bpeCur, _) = bpeApplyMerges(BpeRounds,
      docs.withColumn("n_raw", size(col("toks")).cast("long")))
    val bpe = board("bpe", bpeCur.select(col("n_raw").as("n_tokens"),
      size(col("toks")).as("n_pieces")), lit(0L))
    // ONE histogram aggregation feeds both histogram-trained families
    // (uniTrain would otherwise recompute the identical capped cut)
    val wordsDf = uniWordsOf(docs)
    val (uniCosts, uniUnk) = uniCostsOf(uniTrain(docs, Some(wordsDf)).last)
    val uni = board("unigram",
      unigramEncodeWith(uniCosts, uniUnk, documents, idCol, textCol), lit(0L))
    val words = wordsDf.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val wp = board("wordpiece",
      wordpieceEncodeWith(wpVocabOf(words, wpTrain(words)), documents,
        idCol, textCol), col("n_unk"))
    bpe.unionAll(uni).unionAll(wp).orderBy(col("family"))
  }

  def tokenizerCompare(spark: SparkSession, dir: String): DataFrame =
    tokenizerCompareOn(Tables(spark, dir).documents, "doc_id", "text")

  /** Twin: each family's FULL existing twin as a subquery (CTE name
    * spaces stay separate), rolled up to the same 1-row board. */
  lazy val tokenizerCompareSql: String = {
    val dF = s"d${BpeRounds + 1}"
    s"""SELECT * FROM (
       |SELECT 'bpe' AS family, COUNT(*) AS n_docs,
       |  CAST(SUM(len(rt)) AS BIGINT) AS n_tokens,
       |  CAST(SUM(len(ft)) AS BIGINT) AS n_pieces,
       |  CAST(0 AS BIGINT) AS n_unk,
       |  CAST(CAST(SUM(len(ft)) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(len(rt)) AS BIGINT) AS DOUBLE) AS fertility,
       |  CAST(CAST(0 AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(len(rt)) AS BIGINT) AS DOUBLE) AS unk_rate
       |FROM (
       |  WITH RECURSIVE d1 AS (
       |    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |    FROM documents
       |  ), $bpeApplyChainSql
       |  SELECT r.toks AS rt, f.toks AS ft
       |  FROM d1 r JOIN $dF f USING (doc_id))
       |UNION ALL
       |SELECT 'unigram' AS family, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
       |  CAST(0 AS BIGINT) AS n_unk,
       |  CAST(CAST(SUM(n_pieces) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE) AS fertility,
       |  CAST(CAST(0 AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE) AS unk_rate
       |FROM ($unigramEncodeSql)
       |UNION ALL
       |SELECT 'wordpiece' AS family, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
       |  CAST(SUM(n_unk) AS BIGINT) AS n_unk,
       |  CAST(CAST(SUM(n_pieces) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE) AS fertility,
       |  CAST(CAST(SUM(n_unk) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE) AS unk_rate
       |FROM ($wordpieceEncodeSql)
       |) ORDER BY family""".stripMargin
  }

  // --- C92: line-level boilerplate dedup -----------------------------------
  /** A line appearing VERBATIM in at least this many distinct documents
    * is boilerplate (navigation chrome, cookie banners, copyright
    * footers — the RefinedWeb/Falcon line-dedup discipline, Penedo et
    * al. NeurIPS'23: exact duplicate lines repeated across documents are
    * removed from every carrier, which document-level dedup cannot see
    * because each CARRIER document is unique). */
  val LineDupMinDf = 3

  private val NewsletterLine = "Subscribe to our newsletter today"
  private val RightsLine = "All rights reserved by the publisher"

  /** The synthetic lake has no boilerplate, so the canned corpus SEEDS it
    * (the C13 injection discipline): a newsletter line on every 3rd doc,
    * a rights line on every 5th, and a doc-unique footnote on every 97th
    * (which must survive — unique lines are content, not chrome). */
  private[graft] def lineCorpusOn(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 3 === 0, lit("\n" + NewsletterLine))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("\n" + RightsLine))
        .otherwise(lit("")),
      when(col("doc_id") % 97 === 0,
          concat(lit("\nfootnote "), col("doc_id").cast("string")))
        .otherwise(lit(""))).as("text"))

  def lineCorpus(spark: SparkSession, dir: String): DataFrame =
    lineCorpusOn(graft.sources.Tables(spark, dir).documents
      .select(col("doc_id"), col("text")))

  /** Per-document line-dedup census: n_lines, how many lines the
    * boilerplate filter removes, and an ORDER-FREE exact fingerprint of
    * the retained lines (Σ 48-bit md5 prefixes — the D4 discipline), so
    * the oracle proves WHICH lines survive, not just how many.
    *
    * Scale shape: one explode map; the line-df aggregation shrinks to
    * O(distinct lines) and the filter to O(boilerplate lines) — the
    * small side of the join at any scale (chrome repeats, content
    * doesn't), so a deploy broadcasts it; misses are retained via the
    * LEFT join. One doc-key rollup + gate sort. 6-exchange budget
    * pinned. */
  private def linesOf(documents: DataFrame, idCol: String,
      textCol: String): DataFrame =
    documents.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), "\n")).as("line"))

  /** The frozen boilerplate table — what a deploy trains offline on
    * history and broadcasts onto the live feed (the B51 discipline). */
  private[graft] def boilerLinesOf(documents: DataFrame, idCol: String,
      textCol: String, minDf: Int = LineDupMinDf): DataFrame =
    linesOf(documents, idCol, textCol).groupBy(col("line"))
      .agg(count_distinct(col("doc_id")).as("line_df"))
      .filter(col("line_df") >= minDf)
      .select(col("line"), lit(1).as("_dup"))

  /** The census under a FROZEN boilerplate table — the per-batch
    * caller's shape (B67); the one-shot entry trains and applies in one
    * call. */
  private[graft] def lineDedupWith(boiler: DataFrame, documents: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val h48 = conv(substring(md5(col("line")), 1, 12), 16, 10).cast("long")
    linesOf(documents, idCol, textCol).join(boiler, Seq("line"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_dup") === 1, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("_dup").isNull, h48).otherwise(0L)).as("retained_h"))
      .orderBy(col("doc_id"))
  }

  def lineDedupOn(documents: DataFrame, idCol: String, textCol: String,
      minDf: Int = LineDupMinDf): DataFrame =
    lineDedupWith(boilerLinesOf(documents, idCol, textCol, minDf),
      documents, idCol, textCol)

  def lineDedup(spark: SparkSession, dir: String): DataFrame =
    lineDedupOn(lineCorpus(spark, dir), "doc_id", "text")

  /** Twin: the same seeded corpus, the same df census and LEFT-join
    * retention, the same order-free retained-line fingerprint. */
  lazy val lineDedupSql: String =
    s"""WITH lc AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '$NewsletterLine'
       |       ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || '$RightsLine'
       |       ELSE '' END
       |    || CASE WHEN doc_id % 97 = 0
       |       THEN chr(10) || 'footnote ' || CAST(doc_id AS VARCHAR)
       |       ELSE '' END AS text
       |  FROM documents
       |), l AS (
       |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM lc
       |), b AS (
       |  SELECT line FROM (
       |    SELECT line, COUNT(DISTINCT doc_id) AS line_df FROM l GROUP BY 1)
       |  WHERE line_df >= $LineDupMinDf
       |)
       |SELECT l.doc_id, COUNT(*) AS n_lines,
       |  CAST(SUM(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_removed,
       |  CAST(SUM(CASE WHEN b.line IS NULL
       |       THEN ${hex12Sql("substr(md5(l.line), 1, 12)")} ELSE 0 END)
       |    AS BIGINT) AS retained_h
       |FROM l LEFT JOIN b ON l.line = b.line
       |GROUP BY l.doc_id
       |ORDER BY l.doc_id""".stripMargin

  /** 12-hex-char positional parse → BIGINT (48 bits, exact). Shared with
    * the C79 DSIR oracle (Pipeline) — one md5-prefix→u48 spelling. */
  private[graft] def hex12Sql(m: String): String =
    s"""CAST(list_sum(list_transform(range(1, 13),
       |      i -> (strpos('0123456789abcdef', substr($m, i, 1)) - 1)::BIGINT
       |           << (4 * (12 - i)))) AS BIGINT)""".stripMargin

  val exportShardsSql: String =
    s"""WITH a AS (
       |  SELECT doc_id,
       |    ${hex12Sql(s"substr(md5(CAST(doc_id AS VARCHAR) || ':export'), 1, 12)")}
       |      % $ExportNumShards AS shard,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |    CAST(strlen(text) AS BIGINT) AS n_bytes,
       |    ${hex12Sql("substr(md5(text), 1, 12)")} AS content_h48
       |  FROM documents)
       |SELECT CAST(shard AS INT) AS shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
       |  bit_xor(content_h48) AS content_xor
       |FROM a GROUP BY 1 ORDER BY 1""".stripMargin

  // --- C100: Zipf-law fit over the token frequency spectrum ------------------
  /** How many top ranks the Zipf fit uses per source (the head of the
    * spectrum, where the power law holds and the rank set is bounded).
    *
    * Charset assumption (r11 ADVICE): the shared `TextOps.tokens`
    * spelling splits on Java-regex `\s+` while the DuckDB twin uses
    * RE2's — the classes differ on U+000B (vertical tab: whitespace in
    * Java, not in RE2). The synthetic corpus carries none, and the gate
    * pins that; a corpus with \x0B in documents would need the
    * whitespace class pinned explicitly in BOTH engines (e.g.
    * `[ \t\n\r\f\x0B]+`) before trusting rank-sensitive head selection
    * here. */
  val ZipfTopRanks = 500

  /** Per-source Zipf slope — fit ln(freq) ~ slope · ln(rank) over the
    * top-R token ranks (Zipf's law: slope ≈ −1 for natural language;
    * a synthetic or templated source drifts toward 0 — the corpus
    * diagnostician's one-number fingerprint of lexical naturalness).
    * Composes two existing disciplines: the C31/C49 ln quantization
    * (here MILLI-nats, floor(ln·1e3) — coarse enough that the B82
    * integer rational stays comfortably inside BIGINT: x ≤ ln(500)·1e3,
    * y ≤ ln(freq)·1e3, so n·Σxy ≤ ~1e14) and B82's sufficient-stats
    * OLS with the exact (num, den) emission + IEEE double quotient.
    *
    * Scale shape: one (source, term) partial-agg exchange over the
    * token stream; the per-source rank window sorts O(vocab per source)
    * rows — already agg-shrunk from the corpus, and further boundable at
    * deploy with a per-source count floor before the window — then the
    * rank ≤ R filter leaves an O(sources × R) stats rollup. */
  def zipfSlopeOn(documents: DataFrame, srcCol: String,
      textCol: String): DataFrame = {
    val tf = documents
      .select(col(srcCol).as("source"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("freq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("freq").desc, col("term"))
    val head = tf.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= ZipfTopRanks)
      .select(col("source"),
        expr("CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1e3) AS DECIMAL(10,0))")
          .as("x"),
        expr("CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e3) AS DECIMAL(12,0))")
          .as("y"))
    head.groupBy(col("source"))
      .agg(count(lit(1)).cast("decimal(10,0)").as("n"),
        sum(col("x")).cast("decimal(14,0)").as("sx"),
        sum(col("y")).cast("decimal(16,0)").as("sy"),
        sum(col("x") * col("y")).cast("decimal(20,0)").as("sxy"),
        sum(col("x") * col("x")).cast("decimal(18,0)").as("sxx"))
      .select(col("source"), col("n").cast("long").as("n_ranks"),
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("long")
          .as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("long")
          .as("slope_den"))
      .withColumn("zipf_slope",
        when(col("slope_den") === 0, lit(null))
          .otherwise(col("slope_num").cast("double")
            / col("slope_den").cast("double")))
      .orderBy(col("source"))
  }

  def zipfSlope(spark: SparkSession, dir: String): DataFrame =
    zipfSlopeOn(Tables(spark, dir).documents, "source", "text")

  /** Twin: the same quantized spectrum, rank tiebreak, and rational. */
  val zipfSlopeSql: String =
    s"""WITH tf AS (
       |  SELECT source, term, COUNT(*) AS freq
       |  FROM (SELECT source,
       |          unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
       |        FROM documents)
       |  GROUP BY 1, 2
       |), head AS (
       |  SELECT source,
       |    CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1e3) AS DECIMAL(10,0)) AS x,
       |    CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e3) AS DECIMAL(12,0)) AS y
       |  FROM (
       |    SELECT source, freq, ROW_NUMBER() OVER (PARTITION BY source
       |        ORDER BY freq DESC, term) AS rnk
       |    FROM tf)
       |  WHERE rnk <= $ZipfTopRanks
       |), s AS (
       |  SELECT source, CAST(COUNT(*) AS DECIMAL(10,0)) AS n,
       |    CAST(SUM(x) AS DECIMAL(14,0)) AS sx,
       |    CAST(SUM(y) AS DECIMAL(16,0)) AS sy,
       |    CAST(SUM(x * y) AS DECIMAL(20,0)) AS sxy,
       |    CAST(SUM(x * x) AS DECIMAL(18,0)) AS sxx
       |  FROM head GROUP BY source)
       |SELECT source, CAST(n AS BIGINT) AS n_ranks,
       |  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
       |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
       |       ELSE CAST(n * sxy - sx * sy AS DOUBLE)
       |            / CAST(n * sxx - sx * sx AS DOUBLE)
       |  END AS zipf_slope
       |FROM s
       |ORDER BY source""".stripMargin

  // --- C99: distributed suffix array (prefix doubling) -----------------------
  /** Gate slice: every SaDocMod-th document, first [[SaWindow]] sanitized
    * chars — the oracle materializes each suffix STRING, so its window
    * must stay bounded; the Spark path never materializes a suffix. */
  val SaDocMod: Int = 10
  val SaWindow: Int = 64

  /** Distributed suffix array by PREFIX DOUBLING (Manber & Myers, SIAM
    * J. Comput. 1993) — the index structure under exact-substring dedup
    * at scale (Lee et al. ACL 2022 build one per corpus shard; C44/C96
    * here use a window census instead, this key carries the real
    * machinery). Rank of every suffix by its first char (plain ascii —
    * the charset is sanitized to lowercase alnum+space, where byte order
    * IS lexicographic order); then log₂(window) doubling rounds: the
    * sort key for prefix length 2k is the PAIR (rank of first k, rank of
    * the suffix k positions later, −1 past the end — a proper prefix
    * sorts before every extension), re-densified per document. No round
    * ever compares a string — after init it is integer pairs only, so
    * engine collation cannot diverge.
    *
    * Scale shape: positions explode once (O(chars) rows); every round is
    * two windows over the SAME hash(doc_id) partitioning — a `lead`
    * (positions are dense, so the +k rank is a frame shift, NOT a
    * self-join) and a per-doc `dense_rank` — so the whole log-round
    * chain rides ONE corpus exchange plus per-round sorts. At 100 TB the
    * same chain runs with doc_id → (shard, block) keys; the per-round
    * cost is a sort of O(chars/shard), exactly the Manber-Myers bound.
    * The oracle (bounded window) sorts the materialized suffix strings;
    * suffixes of one string are pairwise distinct, so its ROW_NUMBER ==
    * the doubling chain's final dense_rank. */
  /** The sanitized bounded-window gate slice — shared by C99 and C101.
    * `docMod`/`window` default to the canned gate values (r11 next-round
    * #2b: parameters, not hardcoded constants — a caller indexing a real
    * shard passes its own slice/width). */
  private def saWindowsOf(docs: DataFrame, idCol: String,
      textCol: String, docMod: Int = SaDocMod,
      window: Int = SaWindow): DataFrame =
    docs.filter(col(idCol) % docMod === 0)
      .select(col(idCol).as("doc_id"),
        substring(lower(regexp_replace(col(textCol), "[^a-z0-9 ]", "")),
          1, window).as("w"))
      .filter(length(col("w")) > 0)

  def suffixArrayOn(docs: DataFrame, idCol: String, textCol: String,
      docMod: Int = SaDocMod, window: Int = SaWindow): DataFrame = {
    val base = saWindowsOf(docs, idCol, textCol, docMod, window)
    var cur = base
      .select(col("doc_id"), posexplode(split(col("w"), ""))
        .as(Seq("pos", "ch")))
      .filter(col("ch") =!= "")
      .withColumn("rank", ascii(col("ch")).cast("long"))
      .drop("ch")
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    var k = 1
    while (k < window) {
      val byRank = Window.partitionBy(col("doc_id"))
        .orderBy(col("rank"), col("rank2"))
      cur = cur
        .withColumn("rank2",
          coalesce(lead(col("rank"), k).over(byPos), lit(-1L)))
        .withColumn("rank", dense_rank().over(byRank).cast("long"))
        .drop("rank2")
      k *= 2
    }
    cur.select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("rank").as("sa_rank"))
      .orderBy(col("doc_id"), col("sa_rank"))
  }

  /** Driver key: PROBES the persisted char-SA index ([[SaIndex]] — r13
    * verdict #3); the doubling chain runs once per corpus state, every
    * later query is a stored-rank scan. */
  def suffixArray(spark: SparkSession, dir: String): DataFrame =
    SaIndex.charSa(spark, SaIndex.ensureCharIndex(spark, dir))
      .orderBy(col("doc_id"), col("sa_rank"))

  /** Twin: materialize every (bounded) suffix and sort the strings —
    * DuckDB's default collation is memcmp, which on the sanitized
    * charset equals the doubling chain's integer order. */
  val suffixArraySql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    substr(lower(regexp_replace(text, '[^a-z0-9 ]', '', 'g')),
       |           1, $SaWindow) AS w
       |  FROM documents WHERE doc_id % $SaDocMod = 0
       |), idx AS (
       |  SELECT CAST(UNNEST(range(1, ${SaWindow + 1})) AS BIGINT) AS i
       |), p AS (
       |  SELECT doc_id, i - 1 AS pos, substr(w, i) AS suf
       |  FROM d JOIN idx ON i <= length(w)
       |)
       |SELECT doc_id, pos,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY suf)
       |    AS BIGINT) AS sa_rank
       |FROM p ORDER BY doc_id, sa_rank""".stripMargin

  // --- C101: LCP array over the suffix array ---------------------------------
  /** The LCP array next to C99's suffix array — the pair that makes the
    * index USEFUL: repeated substrings are exactly the runs where
    * adjacent-rank suffixes share a prefix (lcp ≥ threshold), which is
    * how Lee et al. (ACL 2022) find duplicated training spans. Each
    * rank-adjacent pair (a `lag` over the per-doc rank order — no
    * self-join) evaluates [[graft.functions.CommonPrefixLengthAt]], a
    * codegen'd zero-allocation byte loop over the document's bounded
    * window; the window frame is O(slice docs) rows of ≤ 64 chars and
    * BROADCASTS back onto the positions. Rank 1 has no predecessor —
    * lcp 0 by convention, as in Kasai et al.
    *
    * Scale shape: the C99 chain's ONE hash(doc) exchange + the rank-order
    * lag (same partitioning, a re-sort) + the broadcast window join; at
    * deploy (windows too big to carry as a column) the rank-table
    * doubling comparison replaces the byte loop — documented, the gate
    * path IS bounded by the oracle's own materialization limit. */
  def suffixLcpOn(docs: DataFrame, idCol: String, textCol: String,
      docMod: Int = SaDocMod, window: Int = SaWindow): DataFrame =
    lcpFromSa(suffixArrayOn(docs, idCol, textCol, docMod, window),
      saWindowsOf(docs, idCol, textCol, docMod, window))

  /** The Kasai-style LCP derivation over ANY (doc_id, pos, sa_rank)
    * frame — split from the chain so the STORED C99 ranks serve C101
    * without a doubling re-run (r13 verdict #3). */
  private def lcpFromSa(sa: DataFrame, wins: DataFrame): DataFrame = {
    val byRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("sa_rank"))
    sa.withColumn("prev_pos", lag(col("pos"), 1).over(byRank))
      .join(broadcast(wins), "doc_id")
      .withColumn("lcp",
        when(col("prev_pos").isNull, lit(0L))
          .otherwise(graft.functions.suffix.common_prefix_length_at(
            col("w"), col("prev_pos"), col("pos"))))
      .select(col("doc_id"), col("sa_rank"), col("pos"), col("lcp"))
      .orderBy(col("doc_id"), col("sa_rank"))
  }

  /** Driver key: LCP from the PERSISTED C99 ranks (the index pair —
    * build once, derive the LCP at probe; only the window strings are
    * re-sliced for the byte loop). */
  def suffixLcp(spark: SparkSession, dir: String): DataFrame =
    lcpFromSa(
      SaIndex.charSa(spark, SaIndex.ensureCharIndex(spark, dir)),
      saWindowsOf(graft.sources.Tables(spark, dir).documents,
        "doc_id", "text"))

  /** Twin: materialize the suffixes, lag over the rank order, and derive
    * the common-prefix length as max{ i : prefixes of length i equal }
    * (prefix equality is downward-closed, so MAX is exact). */
  val suffixLcpSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    substr(lower(regexp_replace(text, '[^a-z0-9 ]', '', 'g')),
       |           1, $SaWindow) AS w
       |  FROM documents WHERE doc_id % $SaDocMod = 0
       |), idx AS (
       |  SELECT CAST(UNNEST(range(1, ${SaWindow + 1})) AS BIGINT) AS i
       |), p AS (
       |  SELECT doc_id, i - 1 AS pos, substr(w, i) AS suf
       |  FROM d JOIN idx ON i <= length(w)
       |), a AS (
       |  SELECT doc_id, pos, suf,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY suf)
       |      AS BIGINT) AS sa_rank,
       |    LAG(suf) OVER (PARTITION BY doc_id ORDER BY suf) AS prev
       |  FROM p
       |), l AS (
       |  SELECT a.doc_id, a.sa_rank, MAX(i) AS lcp
       |  FROM a JOIN idx
       |    ON i <= least(length(suf), length(prev))
       |   AND substr(suf, 1, CAST(i AS INT)) = substr(prev, 1, CAST(i AS INT))
       |  GROUP BY 1, 2
       |)
       |SELECT a.doc_id, a.sa_rank, a.pos,
       |  COALESCE(l.lcp, 0) AS lcp
       |FROM a LEFT JOIN l ON a.doc_id = l.doc_id AND a.sa_rank = l.sa_rank
       |ORDER BY a.doc_id, a.sa_rank""".stripMargin

  // --- C102: longest repeated substring per document --------------------------
  /** Self-repetition length for the LCP threshold census. */
  val LrsMinSpan = 8

  /** The classic SA+LCP payoff, one rollup away: a document's LONGEST
    * REPEATED SUBSTRING length is exactly max(lcp) over its suffix
    * array (two positions share a prefix of length L iff some adjacent
    * rank pair does — suffix order clusters shared prefixes), and the
    * count of positions with lcp ≥ K is the document's self-repetition
    * mass at span K. This is the WITHIN-document complement of C44's
    * cross-document window census (Gopher's repetition signals measure
    * the same pathology with fixed n-grams; the suffix index answers it
    * for EVERY span length at once). Scale shape: C101's plan + one
    * doc-key partial agg riding the same hash(doc) partitioning. */
  def lrsPerDoc(spark: SparkSession, dir: String): DataFrame =
    suffixLcp(spark, dir)
      .groupBy(col("doc_id"))
      .agg(max(col("lcp")).as("lrs_len"),
        sum(when(col("lcp") >= LrsMinSpan, 1L).otherwise(0L))
          .as(s"n_spans_ge_$LrsMinSpan"))
      .orderBy(col("doc_id"))

  /** Twin: the same rollup over the C101 oracle. */
  val lrsPerDocSql: String =
    s"""SELECT doc_id, CAST(MAX(lcp) AS BIGINT) AS lrs_len,
       |  CAST(SUM(CASE WHEN lcp >= $LrsMinSpan THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_spans_ge_$LrsMinSpan
       |FROM ($suffixLcpSql)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --- C103: exact-substring census THROUGH the suffix-array machinery ------
  /** C44's cross-document duplicated-window census computed by SUFFIX
    * ARRAY machinery instead of window-string hashing — the key that
    * makes the C99 index load-bearing (r11 next-round #2). A w-truncated
    * GENERALIZED suffix array over the token streams of ALL documents:
    * positions explode once, the initial rank is the global token id,
    * and ⌈log₂ w⌉ prefix-doubling rounds refine each position's rank
    * with the (rank, rank at pos+k) pair (k = min(len, w−len); the
    * overlapping-pair comparison is the standard sparse doubling step —
    * first len+k tokens equal ⟺ both pair members equal). After the
    * last round two full-window positions share a rank IFF their first
    * w tokens are EQUAL — rank groups ARE C44's windows — so the census
    * is a rank-keyed rollup: a window is duplicated iff its rank group
    * spans ≥ 2 documents. After the vocab init no string is compared or
    * shuffled again: the widest shuffled payload is four longs per
    * position, where C44 shuffles the materialized w-token window
    * string — at a 100 TB corpus that is the difference between
    * shuffling 32 bytes and shuffling whole passages.
    *
    * Rank assignment never single-partitions: each round's distinct
    * (rank, rank2) board takes its global dense rank from a
    * range-partitioned sort + `zipWithIndex` (ordered partitions ⇒
    * ordered concatenation; the two-pass count/offset keeps only an
    * O(partitions) array on the driver) — the Manber–Myers chain with
    * every stage distributed. Equivalence to `substring_dedup` is
    * pinned by SHARING its DuckDB oracle (the C94
    * hash-equality-as-algorithm-equivalence trick) and by
    * SuffixDedupSaSpec's direct frame comparison, including a
    * non-power-of-two width that exercises the overlap step. */
  def substringDedupSaOn(docs: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    val (cur, keys) = saWindowGroupsOn(docs, idCol, textCol, w)
    // the census: per-doc DISTINCT ranks (C44 counts distinct windows),
    // rank-keyed doc frequency, doc-keyed rollup — same three linear
    // stages as duplicatedWindowStats, keyed by integers
    val wins = cur.filter(col("pos") <= col("_n") - w)
      .select((col("_id") +: keys.map(col)): _*).distinct()
    val dfreq = wins.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_df"))
    wins.join(dfreq, keys)
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("_df") > 1, 1L).otherwise(0L)).as("dup_windows"))
      .select(col("_id").as("doc_id"), col("n_windows"),
        col("dup_windows"),
        (col("dup_windows").cast("double") / col("n_windows"))
          .as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** The generalized-suffix-array core shared by the C103 census and the
    * C106 span extraction: per token position (_id, _n doc length, pos
    * 0-based, rank keys), where after the doubling rounds two positions
    * carry equal KEYS iff their first w tokens are equal. Returns the
    * position frame and the key column names (one densified rank, or
    * the final round's (rank, rank2) pair). */
  private[operators] def saWindowGroupsOn(docs: DataFrame, idCol: String,
      textCol: String, w: Int): (DataFrame, Seq[String]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    // tokenization parity with C44's word_shingles kernel (Java
    // trim/split — see Dedup.scrubToks's whitespace-edge note).
    // Checkpointed: the explode feeds both the vocab board and the
    // rank join (the PageRank lineage-truncation discipline — without
    // it every round's board pass re-executes ALL earlier rounds and
    // the chain goes superlinear in rounds, measured 70 s → 28 s at
    // the 24× probe)
    val pos = Dedup.scrubToks(docs, idCol, textCol)
      .select(col("_id"), expr("size(_t)").as("_n"),
        posexplode(col("_t")).as(Seq("pos", "tok")))
      .localCheckpoint(eager = true)
    def rankedBoard(board: DataFrame, keys: Seq[String]): DataFrame = {
      val sorted = board
        .repartitionByRange(keys.map(col): _*)
        .sortWithinPartitions(keys.map(col): _*)
      spark.createDataFrame(
        sorted.rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L)) },
        sorted.schema.add("_nr", org.apache.spark.sql.types.LongType))
    }
    val vocab = rankedBoard(pos.select(col("tok")).distinct(), Seq("tok"))
    var cur = pos.join(vocab, "tok")
      .select(col("_id"), col("_n"), col("pos"), col("_nr").as("rank"))
    val byPos = Window.partitionBy(col("_id")).orderBy(col("pos"))
    var len = 1
    var keys = Seq("rank")
    // frames the CURRENT round still reads lazily — freed the moment the
    // next round's eager checkpoint lands (r12 ADVICE's accumulation
    // class applied to the doubling chain: without this, every round
    // pins another corpus-sized position frame in executor storage for
    // the life of the query — ~log₂ w × corpus at production widths)
    var pinned: Seq[DataFrame] = Seq(pos)
    while (len < w) {
      val k = math.min(len, w - len)
      // each round truncates lineage: `paired` feeds the board build
      // AND the rank join; the board is materialized once
      val paired = cur.withColumn("rank2",
        coalesce(lead(col("rank"), k).over(byPos), lit(-1L)))
        .localCheckpoint(eager = true)
      // paired materialized — the previous round's checkpoints have no
      // remaining readers
      pinned.foreach(graft.GraftSession.unpersistLocalCheckpoint)
      if (len + k < w) {
        val board = rankedBoard(
          paired.select(col("rank"), col("rank2")).distinct(),
          Seq("rank", "rank2")).localCheckpoint(eager = true)
        cur = paired.join(board, Seq("rank", "rank2"))
          .select(col("_id"), col("_n"), col("pos"), col("_nr").as("rank"))
        pinned = Seq(paired, board)
      } else {
        // the LAST round never densifies: the census only needs the
        // GROUPING, and the final (rank, rank2) pair already is one —
        // saves a whole board + corpus join. Its checkpoint is the
        // RETURNED frame — the caller's census reads it, never freed here.
        cur = paired
        keys = Seq("rank", "rank2")
      }
      len += k
    }
    (cur, keys)
  }

  /** Driver key: PROBES the persisted window-group index ([[SaIndex]] —
    * r13 verdict #3); value-identical to the from-scratch chain
    * (SaIndexSpec pins the frame equality and the no-rebuild probe). */
  def substringDedupSa(spark: SparkSession, dir: String): DataFrame =
    SaIndex.substringCensus(spark,
      SaIndex.ensureWindowIndex(spark, dir, TextOps.SubstrW))

  // --- C106: duplicated-span extraction THROUGH the suffix array ------------
  /** C105's merged duplicated-span intervals computed by the SUFFIX-ARRAY
    * machinery (r12 next-round #6 — the full Lee et al. ExactSubstr
    * product off the index): a position starts a cross-doc duplicate iff
    * its w-window's SA rank group spans ≥ 2 documents, and "covered by a
    * duplicate of length ≥ w" is EXACTLY "covered by some duplicated
    * w-window" (a length-M ≥ w repeat contains M−w+1 duplicated
    * w-windows tiling it; each duplicated w-window IS such a repeat), so
    * the gaps-and-islands merge over SA-derived starts emits the same
    * maximal spans — including spans far LONGER than w, which the spec
    * pins on a seeded corpus. Shares `dup_spans`' DuckDB oracle (the C94
    * hash-equality-as-algorithm-equivalence trick): the window census
    * recomputed through prefix-doubling rank groups must reproduce the
    * span list byte-for-byte.
    *
    * Scale shape: C103's integer-keyed doubling chain (widest shuffled
    * payload four longs per position — never a window string), then one
    * rank-keyed doc-frequency board, the start join-back, and C105's one
    * doc-key window over dup starts only. */
  def dupSpansSaOn(docs: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    val (cur, keys) = saWindowGroupsOn(docs, idCol, textCol, w)
    val wins = cur.filter(col("pos") <= col("_n") - w)
    // doc frequency counts DISTINCT docs per rank group (C44's per-doc
    // distinct), but every START position of a duplicated window enters
    // the island merge — a window repeated twice inside one doc covers
    // both of its sites
    val dfreq = wins.select((col("_id") +: keys.map(col)): _*).distinct()
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("_df"))
    val starts = wins.join(dfreq.filter(col("_df") > 1), keys)
      .select(col("_id"), (col("pos") + 1).cast("int").as("_i"))
    Dedup.dupSpansFromStarts(starts, w)
  }

  /** Driver key: the span product off the SAME persisted index. */
  def dupSpansSa(spark: SparkSession, dir: String): DataFrame =
    SaIndex.dupSpans(spark,
      SaIndex.ensureWindowIndex(spark, dir, TextOps.SubstrW),
      TextOps.SubstrW)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "substring_dedup_sa" -> (substringDedupSa _),
    "dup_spans_sa" -> (dupSpansSa _),
    "suffix_array" -> (suffixArray _),
    "suffix_lcp" -> (suffixLcp _),
    "lrs_per_doc" -> (lrsPerDoc _),
    "zipf_slope" -> (zipfSlope _),
    "unigram_logprob" -> (unigramLogprob _),
    "vocab_growth" -> (vocabGrowth _),
    "line_dedup" -> (lineDedup _),
    "text_repetition" -> (textRepetition _),
    "decontaminate" -> (decontaminate _),
    "decontaminate_fuzzy" -> (decontaminateFuzzy _),
    "decontaminate_simhash" -> (decontaminateSimhash _),
    "decontaminate_containment" -> (decontaminateContainment _),
    "bm25_search" -> (bm25Search _),
    "pack_sequences" -> (packSequences _),
    "pack_bestfit" -> (packBestfit _),
    "dedup_incremental" -> (dedupIncremental _),
    "domain_caps" -> (domainCaps _),
    "corpus_mixture" -> (corpusMixture _),
    "export_shards" -> (exportShards _),
    "token_pmi" -> (tokenPmi _),
    "tfidf_topterms" -> (tfidfTopTerms _),
    "vocab_oov" -> (vocabOov _),
    "weighted_sample" -> (weightedSample _),
    "phrase_merge" -> (phraseMerge _),
    "phrase_merge_rounds" -> (phraseMergeRounds _),
    "bigram_logprob" -> (bigramLogprob _),
    "trigram_logprob" -> (trigramLogprob _),
    "fourgram_logprob" -> (fourgramLogprob _),
    "bpe_vocab" -> (bpeVocab _),
    "bpe_encode" -> (bpeEncode _),
    "bpe_roundtrip" -> (bpeRoundtrip _),
    "unigram_vocab" -> (unigramVocab _),
    "unigram_encode" -> (unigramEncode _),
    "wordpiece_vocab" -> (wordpieceVocab _),
    "wordpiece_encode" -> (wordpieceEncode _),
    "tokenizer_compare" -> (tokenizerCompare _),
    "mixture_temperature" -> (mixtureTemperature _),
    "epoch_plan" -> (epochPlan _),
    "pack_sequences_bpe" -> (packSequencesBpe _),
    "vocab_fertility" -> (vocabFertility _),
    "kn_logprob" -> (knLogprob _),
    "ppl_band_select" -> (pplBandSelect _))

  val oracles: Map[String, String] = Map(
    "unigram_logprob" -> unigramLogprobSql,
    "vocab_growth" -> vocabGrowthSql,
    "line_dedup" -> lineDedupSql,
    "text_repetition" -> textRepetitionSql,
    "decontaminate" -> decontaminateSql,
    "decontaminate_fuzzy" -> decontaminateFuzzySql,
    "decontaminate_simhash" -> decontaminateSimhashSql,
    "decontaminate_containment" -> decontaminateContainmentSql,
    "bm25_search" -> bm25SearchSql,
    "pack_sequences" -> packSequencesSql,
    "pack_bestfit" -> packBestfitSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "domain_caps" -> domainCapsSql,
    "corpus_mixture" -> corpusMixtureSql,
    "export_shards" -> exportShardsSql,
    "token_pmi" -> tokenPmiSql,
    "tfidf_topterms" -> tfidfTopTermsSql,
    "vocab_oov" -> vocabOovSql,
    "weighted_sample" -> weightedSampleSql,
    "phrase_merge" -> phraseMergeSql,
    "phrase_merge_rounds" -> phraseMergeRoundsSql,
    "bigram_logprob" -> bigramLogprobSql,
    "trigram_logprob" -> trigramLogprobSql,
    "fourgram_logprob" -> fourgramLogprobSql,
    "bpe_vocab" -> bpeVocabSql,
    "bpe_encode" -> bpeEncodeSql,
    "bpe_roundtrip" -> bpeRoundtripSql,
    "unigram_vocab" -> unigramVocabSql,
    "unigram_encode" -> unigramEncodeSql,
    "wordpiece_vocab" -> wordpieceVocabSql,
    "wordpiece_encode" -> wordpieceEncodeSql,
    "tokenizer_compare" -> tokenizerCompareSql,
    "mixture_temperature" -> mixtureTemperatureSql,
    "epoch_plan" -> epochPlanSql,
    "pack_sequences_bpe" -> packSequencesBpeSql,
    "vocab_fertility" -> vocabFertilitySql,
    "kn_logprob" -> knLogprobSql,
    "ppl_band_select" -> pplBandSelectSql,
    "suffix_array" -> suffixArraySql,
    "suffix_lcp" -> suffixLcpSql,
    "lrs_per_doc" -> lrsPerDocSql,
    // C103 SHARES C44's oracle: hash equality across the two plans IS
    // the algorithm-equivalence proof (the C94 discipline)
    "substring_dedup_sa" -> TextOps.substringDedupSql,
    "dup_spans_sa" -> TextOps.dupSpansSql,
    "zipf_slope" -> zipfSlopeSql)
}
