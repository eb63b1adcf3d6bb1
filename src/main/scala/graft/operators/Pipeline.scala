package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** SURVEY §2 block C continued (C13–C20): the curation stages a large-scale
  * training-data pipeline runs AFTER similarity/dedup analysis — scrubbing,
  * splitting, quality gating, vocabulary statistics, cluster survivorship,
  * and the composed end-to-end curation flow.
  *
  * Scale notes (100 TB):
  *  - C13/C14/C15 are pure map stages (regex + hash + column algebra inside
  *    WholeStageCodegen) — zero shuffles before the gate's ORDER BY.
  *  - C16 is one partial-agg shuffle + TakeOrderedAndProject: the full
  *    n-gram distribution is never sorted, only the top-k heap survives.
  *  - C17 is the iterative min-label propagation of [[Cluster]] — one
  *    shuffle per round, rounds = cluster diameter (2-4 for near-dup
  *    graphs).
  *
  * The synthetic corpus carries no PII, so C13 injects deterministic
  * doc_id-derived PII (same derivation in the SQL twin) — the operator's
  * positive path is exercised end-to-end, like [[TextOps.dedupCorpus]].
  */
object Pipeline {

  // --- C13: PII scrubbing --------------------------------------------------
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val SsnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  val PhoneRe = "\\b555-[0-9]{4}\\b"

  /** documents with deterministic injected PII (ids drive which docs get
    * an email / phone / ssn suffix). */
  def piiCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" ssn 123-45-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))
      ).as("text"))

  private val piiCorpusSql =
    """pii AS (
      |  SELECT doc_id,
      |    concat(text,
      |      CASE WHEN doc_id % 3 = 0
      |           THEN ' contact user' || doc_id || '@example.com' ELSE '' END,
      |      CASE WHEN doc_id % 4 = 0
      |           THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END,
      |      CASE WHEN doc_id % 5 = 0
      |           THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
      |    ) AS text
      |  FROM documents
      |)""".stripMargin

  /** Redact emails/SSNs/phones with typed placeholders; emit per-doc match
    * counts and the scrubbed-content fingerprint. Patterns stay in the
    * Java∩RE2 regex subset so every engine sees the same matches. */
  def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "[EMAIL]"),
        SsnRe, "[SSN]"),
      PhoneRe, "[PHONE]")

  def textPiiScrub(spark: SparkSession, dir: String): DataFrame =
    piiCorpus(spark, dir).select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).as("n_emails"),
      regexp_count(col("text"), lit(SsnRe)).as("n_ssns"),
      regexp_count(col("text"), lit(PhoneRe)).as("n_phones"),
      md5(scrub(col("text"))).as("scrubbed_fp"))
      .orderBy(col("doc_id"))

  val textPiiScrubSql: String =
    s"""WITH $piiCorpusSql
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$SsnRe')) AS INT) AS n_ssns,
       |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS INT) AS n_phones,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |        '$EmailRe', '[EMAIL]', 'g'),
       |        '$SsnRe', '[SSN]', 'g'),
       |        '$PhoneRe', '[PHONE]', 'g')) AS scrubbed_fp
       |FROM pii ORDER BY doc_id""".stripMargin

  // --- shared 80/10/10 split spelling ---------------------------------------
  /** The one hash-threshold split assignment (≈80/10/10) — shared by C14
    * (doc id), C112 (cluster id), and the cluster/anchor split keys, so
    * the promised "same thresholds as C14" is enforced by construction
    * (r14 self-review: four drifting copies). `h` must be the first 4
    * hex chars of md5 of the assignment key. */
  private[operators] val SplitTrainMax = "cccd"
  private[operators] val SplitValMax = "e666"
  private[operators] def splitOf(h: Column): Column =
    when(h < SplitTrainMax, "train").when(h < SplitValMax, "val")
      .otherwise("test")
  /** The SQL twin over an arbitrary key expression. */
  private[operators] def splitSqlOver(keyExpr: String): String =
    s"""CASE WHEN substr(md5(CAST($keyExpr AS VARCHAR)), 1, 4) < '$SplitTrainMax' THEN 'train'
       |       WHEN substr(md5(CAST($keyExpr AS VARCHAR)), 1, 4) < '$SplitValMax' THEN 'val'
       |       ELSE 'test' END""".stripMargin

  // --- C14: deterministic train/val/test split -----------------------------
  /** Content-hash split: bucket = first 4 hex chars of md5(doc_id), which
    * both engines format identically, so assignment is reproducible
    * anywhere and stable under resharding/reprocessing (the property that
    * matters — never split by position or random()). Thresholds are hex
    * string compares ≈ 80/10/10. */
  def sampleSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 4)
    Tables(spark, dir).documents.select(
      col("doc_id"),
      h.as("hash_prefix"),
      splitOf(h)
        .as("split"))
      .orderBy(col("doc_id"))
  }

  val sampleSplitSql: String =
    s"""SELECT doc_id,
      |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hash_prefix,
      |  ${splitSqlOver("doc_id")} AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- C15: quality filter chain -------------------------------------------
  /** Gopher-style hard filters, evaluated as one codegen'd pass; the reject
    * reason is the FIRST failing rule (fixed precedence) so downstream
    * sampling of rejects is stable. Flags are ints, not booleans — engine
    * boolean formatting differs, exact ints never do. */
  /** The C15 rule columns over a text column — factored so the gate
    * ([[qualityFlagsOn]]) and the C78 seed labeler share ONE spelling of
    * every rule. Pure column algebra: fuses map-side wherever it is
    * composed, no join needed to attach a label. */
  private[graft] case class QualityExprs(nWords: Column, awl: Column,
      nStop: Column, passMin: Column, passMax: Column, passAwl: Column,
      passStop: Column) {
    def passes: Column = passMin * passMax * passAwl * passStop
    def reason: Column =
      when(passMin === 0, "too_short").when(passMax === 0, "too_long")
        .when(passAwl === 0, "word_len").when(passStop === 0, "no_stopwords")
        .otherwise("ok")
  }

  private[graft] def qualityExprsOf(text: Column): QualityExprs = {
    val toks = split(trim(text), "\\s+")
    val nWords = size(toks)
    val nNonSpace = length(regexp_replace(text, "\\s", ""))
    val awl = nNonSpace.cast("double") / nWords
    val nStop = TextAnalysis.stopwordCount(toks, TextOps.Stopwords)
    QualityExprs(nWords, awl, nStop,
      (nWords >= 20).cast("int"), (nWords <= 500).cast("int"),
      (awl >= 2.5 && awl <= 8.0).cast("int"), (nStop >= 1).cast("int"))
  }

  /** The gate's flag columns over any documents frame — a pure
    * (stateless, codegen'd) map stage, so the SAME definition runs over a
    * batch scan or a streaming source (see StreamOps.streamQualityGate). */
  def qualityFlagsOn(docs: DataFrame): DataFrame = {
    val q = qualityExprsOf(col("text"))
    docs.select(
      col("doc_id"),
      q.nWords.as("n_words"),
      q.awl.as("avg_word_len"),
      q.nStop.as("n_stopwords"),
      q.passMin.as("pass_min_words"), q.passMax.as("pass_max_words"),
      q.passAwl.as("pass_word_len"), q.passStop.as("pass_stopwords"),
      q.passes.as("passes"),
      q.reason.as("reject_reason"))
  }

  def qualityFilterChain(spark: SparkSession, dir: String): DataFrame =
    qualityFlagsOn(Tables(spark, dir).documents).orderBy(col("doc_id"))

  val qualityFilterChainSql: String = qualityFlagsSqlOver("documents")

  /** The C15 flag chain as SQL over ANY (doc_id, text) table — shared by
    * the C15/C59 oracles and the B61 admission-chain oracle, so the
    * quality stage cannot fork between the batch and composed twins.
    * `ordered = false` for embedding inside a CTE (replaces the fragile
    * `.replace("ORDER BY doc_id", "")` surgery at every composer). */
  def qualityFlagsSqlOver(table: String, ordered: Boolean = true): String = {
    val in = TextOps.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH m AS (
       |  SELECT doc_id,
       |    LEN(toks) AS n_words,
       |    CAST(LENGTH(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / LEN(toks) AS awl,
       |    LEN(list_filter(toks, w -> w IN ($in))) AS n_stop
       |  FROM (SELECT doc_id, text,
       |          regexp_split_to_array(TRIM(text), '\\s+') AS toks
       |        FROM $table)
       |), f AS (
       |  SELECT doc_id, n_words, awl, n_stop,
       |    CASE WHEN n_words >= 20 THEN 1 ELSE 0 END AS pass_min_words,
       |    CASE WHEN n_words <= 500 THEN 1 ELSE 0 END AS pass_max_words,
       |    CASE WHEN awl >= 2.5 AND awl <= 8.0 THEN 1 ELSE 0 END AS pass_word_len,
       |    CASE WHEN n_stop >= 1 THEN 1 ELSE 0 END AS pass_stopwords
       |  FROM m)
       |SELECT doc_id, CAST(n_words AS INT) AS n_words, awl AS avg_word_len,
       |  CAST(n_stop AS INT) AS n_stopwords,
       |  pass_min_words, pass_max_words, pass_word_len, pass_stopwords,
       |  pass_min_words * pass_max_words * pass_word_len * pass_stopwords AS passes,
       |  CASE WHEN pass_min_words = 0 THEN 'too_short'
       |       WHEN pass_max_words = 0 THEN 'too_long'
       |       WHEN pass_word_len = 0 THEN 'word_len'
       |       WHEN pass_stopwords = 0 THEN 'no_stopwords'
       |       ELSE 'ok' END AS reject_reason
       |FROM f${if (ordered) " ORDER BY doc_id" else ""}""".stripMargin
  }

  // --- C16: corpus top-k n-grams -------------------------------------------
  val NgramTopK = 100

  /** Top bigrams by document frequency. word_shingles is per-doc DISTINCT,
    * so counts are document frequencies; orderBy+limit plans as
    * TakeOrderedAndProject — a bounded heap per partition, never a full
    * sort of the vocabulary. */
  def ngramTopk(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(explode(TextOps.shingles(col("text"), 2)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram"))
      .limit(NgramTopK)

  val ngramTopkSql: String =
    s"""SELECT s AS gram, COUNT(*) AS df
       |FROM (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)),
       |         i -> toks[i] || ' ' || toks[i+1]))) AS s
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |        FROM documents))
       |GROUP BY 1 ORDER BY df DESC, gram LIMIT $NgramTopK""".stripMargin

  // --- C19: corpus token frequencies via a bounded-memory sketch -----------
  val HeavyHitterCapacity = 256

  /** Token frequencies through the Misra–Gries [[graft.functions.HeavyHitters]]
    * aggregate: O(capacity) state per partition, mergeable partials, no
    * full-vocabulary shuffle — frequency analysis for a token stream whose
    * vocabulary doesn't fit an exact groupBy. On this corpus the capacity
    * exceeds the vocabulary, so counts are exact and oracle-checked; at
    * scale the same query degrades gracefully to guaranteed
    * error ≤ n/(capacity+1). */
  def tokenFreq(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .agg(graft.functions.heavyhitters.heavy_hitters(col("token"),
        HeavyHitterCapacity).as("hh"))
      .select(posexplode(col("hh")))
      .select(col("col.item").as("token"), col("col.count").as("n"),
        (col("pos") + 1).cast("int").as("rank"))

  val tokenFreqSql: String =
    """SELECT token, n, CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS rank
      |FROM (
      |  SELECT w AS token, COUNT(*) AS n
      |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |        FROM documents)
      |  GROUP BY 1)
      |ORDER BY rank""".stripMargin

  // --- C22: deterministic stratified sampling ------------------------------
  /** Per-stratum keep rates as 4-hex-digit md5-prefix thresholds, compared
    * lexicographically against the 4-hex-digit hash prefix. Rebalancing a
    * multilingual corpus is the canonical use: downsample over-represented
    * languages at exact, auditable rates. A stratum NOT listed here keeps
    * everything ([[KeepAllThreshold]] sorts above every hex prefix) — a
    * rebalancing spec names the strata it downsamples; silence means
    * untouched, never dropped. */
  val StrataThresholds: Seq[(String, String)] = Seq(
    "en" -> "ffff", // ~keep all (65535/65536)
    "es" -> "8000", // ~50 %
    "de" -> "4000", // ~25 %
    "fr" -> "2000") // ~12.5 %

  /** Sorts lexicographically above any 4-hex-digit prefix in both engines:
    * exact keep-all (the 4-digit space tops out one row short at ffff). */
  val KeepAllThreshold = "g"

  /** Stratified sampling by content hash: a document survives iff its
    * md5(doc_id) prefix falls under its stratum's threshold. This is the
    * reshard-stable analogue of `DataFrame.sampleBy`, whose per-partition
    * RNG makes membership depend on data layout — here membership is a
    * pure function of (doc_id, stratum), identical on every engine, every
    * partitioning, every rerun, which is what an auditable training-mix
    * spec needs. Pure map stage. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 4)
    val thr = StrataThresholds.foldLeft(lit(KeepAllThreshold)) { case (acc, (lang, t)) =>
      when(col("lang") === lang, lit(t)).otherwise(acc)
    }
    Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), h.as("hash_prefix"), thr.as("threshold"))
      .filter(col("hash_prefix") < col("threshold"))
      .orderBy(col("doc_id"))
  }

  val stratifiedSampleSql: String = {
    val cases = StrataThresholds.reverse
      .map { case (l, t) => s"WHEN lang = '$l' THEN '$t'" }.mkString(" ")
    s"""SELECT doc_id, lang,
       |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hash_prefix,
       |  CASE $cases ELSE '$KeepAllThreshold' END AS threshold
       |FROM documents
       |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
       |      < CASE $cases ELSE '$KeepAllThreshold' END
       |ORDER BY doc_id""".stripMargin
  }

  // --- C17: near-dup cluster survivorship ----------------------------------
  /** Jaccard pairs → connected components → keeper = min doc_id per
    * cluster. This is the step that turns every pairwise Dedup variant's
    * output into a drop list. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val edges = TextOps.jaccardPairs(spark, dir)
    Cluster.connectedComponents(docs.select(col("doc_id")), "doc_id",
        edges, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"),
        (col("id") === col("cluster_id")).cast("int").as("is_keeper"))
      .orderBy(col("doc_id"))
  }

  /** C94: C17 through the HUB-PROOF large-star/small-star contraction
    * (Kiveris et al., SoCC'14) instead of min-label propagation — the
    * variant that survives celebrity components (a hub of degree n/2
    * makes min-label fan out O(n) messages per round; star contraction
    * keeps every round's frames ∝ |E|). Same edges, same output, and —
    * because both algorithms compute the SAME partition with the same
    * min-id labels — the SAME oracle as `dedup_clusters`: hash equality
    * IS the algorithm-equivalence proof, at gate scale, end-to-end
    * (the topology spec pins it on adversarial graphs). */
  def dedupClustersStars(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val edges = TextOps.jaccardPairs(spark, dir)
    Cluster.connectedComponentsStars(docs.select(col("doc_id")), "doc_id",
        edges, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"),
        (col("id") === col("cluster_id")).cast("int").as("is_keeper"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle CTE block: 3-gram Jaccard edges → min-label CC. Reused
    * by the C17 and C61 twins so both replay the ONE cluster definition. */
  private def ccClusterCtes: String =
    s"""sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)-1),
       |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |        FROM documents)
       |), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= ${TextOps.JaccardThreshold}
       |  UNION
       |  SELECT doc_b, doc_a FROM pairs
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= ${TextOps.JaccardThreshold}),
       |lab(node, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, l.lab FROM lab l JOIN edges e ON e.a = l.node
       |)""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $ccClusterCtes
       |SELECT node AS doc_id, MIN(lab) AS cluster_id,
       |  CASE WHEN MIN(lab) = node THEN 1 ELSE 0 END AS is_keeper
       |FROM lab GROUP BY node ORDER BY doc_id""".stripMargin

  // --- C112: leakage-safe train/val/test split -------------------------------
  /** C14's deterministic split at NEAR-DUP-CLUSTER granularity — the
    * assignment discipline that keeps evaluation honest (Lee et al. ACL
    * 2022; Dodge et al. 2021 both document test-set contamination via
    * near-dups straddling splits): a doc-level hash split puts a
    * duplicated passage's copies on BOTH sides of the train/test fence,
    * so the model is evaluated on its own training text. Here the split
    * hashes the CLUSTER id (C17's connected components over the Jaccard
    * graph), so every member of a near-dup cluster co-assigns by
    * construction — no pair of near-duplicates can ever straddle. Same
    * md5-prefix thresholds as C14 (≈80/10/10, reproducible anywhere,
    * stable under resharding); singleton docs hash exactly like C14
    * would hash their own cluster id.
    *
    * Scale shape: the cluster build is C17's (band-bounded candidate
    * join + star-safe CC); the assignment is a pure map over the
    * (doc, cluster) frame. The leakage guarantee costs nothing extra —
    * it is the KEY choice, not a check. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(col("cluster_id").cast("string")), 1, 4)
    dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"), h.as("hash_prefix"),
        splitOf(h)
          .as("split"))
      .orderBy(col("doc_id"))
  }

  /** Twin: C17's cluster CTEs + C14's threshold CASE over the cluster id. */
  val leakageSafeSplitSql: String =
    s"""WITH RECURSIVE $ccClusterCtes,
       |cc AS (
       |  SELECT node AS doc_id, MIN(lab) AS cluster_id FROM lab GROUP BY node
       |)
       |SELECT doc_id, cluster_id,
       |  substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4) AS hash_prefix,
       |  ${splitSqlOver("cluster_id")} AS split
       |FROM cc ORDER BY doc_id""".stripMargin

  // --- C61: quality-argmax survivorship -------------------------------------
  /** [[dedupClusters]] with the retention policy a curation team actually
    * deploys: within each near-dup cluster keep the HIGHEST-QUALITY copy
    * (C9's composite score; ties → min doc_id), not the smallest id — the
    * keeper choice that preserves corpus quality instead of id accidents.
    *
    * Scale shape: the cluster build is C17's (band-bounded candidate join
    * + min-label CC); the quality score is a pure map stage co-keyed with
    * the doc, so the join onto the cluster map is ONE doc_id exchange; the
    * argmax is [[Cluster.keepersBy]]'s single cluster-key `min_by` agg
    * (no per-cluster sort). The score is a fixed IEEE chain over exact ints
    * (hash-green at C9), so both engines rank identical bits — the argmax
    * needs no quantization. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val edges = TextOps.jaccardPairs(spark, dir)
    val cc = Cluster.connectedComponents(docs.select(col("doc_id")), "doc_id",
      edges, "id_a", "id_b")
    Cluster.keepersBy(cc,
        TextOps.textQuality(spark, dir)
          .select(col("doc_id"), col("quality_score")),
        "doc_id", "quality_score")
      .select(col("id").as("doc_id"), col("cluster_id"), col("keeper_id"),
        col("is_keeper"))
      .orderBy(col("doc_id"))
  }

  val dedupKeepBestSql: String = {
    val in = TextOps.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH RECURSIVE $ccClusterCtes,
       |cl AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM lab GROUP BY 1),
       |q AS (
       |  SELECT doc_id,
       |    LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0)
       |      * (1.0 - (CAST(n_stopwords AS DOUBLE) / n_words) * 0.5) AS quality_score
       |  FROM (
       |    SELECT doc_id,
       |      LEN(toks) AS n_words,
       |      LEN(list_filter(toks, w -> w IN ($in))) AS n_stopwords
       |    FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS toks
       |          FROM documents))
       |), r AS (
       |  SELECT cl.doc_id, cl.cluster_id,
       |    first_value(cl.doc_id) OVER (
       |      PARTITION BY cluster_id ORDER BY quality_score DESC, cl.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS keeper_id
       |  FROM cl JOIN q USING (doc_id))
       |SELECT doc_id, cluster_id, keeper_id,
       |  CAST(CASE WHEN doc_id = keeper_id THEN 1 ELSE 0 END AS INT) AS is_keeper
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // --- C20: the composed curation pipeline ---------------------------------
  /** The full curation flow as ONE declarative plan: quality-gate the
    * corpus (C15), near-dup it with the 100 TB candidate path — MinHash-LSH
    * candidates (C2) verified by per-pair exact Jaccard — keep cluster
    * minima (C17), then assign reshard-stable splits (C14).
    *
    * Scale shape: candidate generation is the band-bucket equi-join (cost
    * bounded by band collisions, never all-pairs) and verification fetches
    * the two shingle sets per CANDIDATE (cost O(|candidates|)) — no shingle
    * ever becomes a join key, so a boilerplate shingle shared by a million
    * surviving docs cannot create a quadratic hot key the way the exact
    * inverted-index join (Dedup.ngramJaccardPairs) would. Catalyst still
    * sees one declarative plan, so the quality filter prunes the sketch
    * input and only keeper rows reach the split projection. */
  def curatePipeline(spark: SparkSession, dir: String): DataFrame = {
    val q = qualityFilterChain(spark, dir)
      .filter(col("passes") === 1).select(col("doc_id"))
    // input spread DELIBERATELY not applied (r17): the components tail
    // executes eagerly (several actions over this frame), each re-paying
    // the round-robin exchange — measured 0.7 -> 1.2 s against the spread
    val docs = Tables(spark, dir).documents.join(q, "doc_id")
    val cands = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = Sketch.NumHashes, bands = Sketch.Bands,
      minEstJaccard = Sketch.MinEstJaccard)
    val edges = Dedup.verifyJaccardPairs(cands, docs, "doc_id", "text",
      n = 3, threshold = TextOps.JaccardThreshold)
    val h = substring(md5(col("doc_id").cast("string")), 1, 4)
    Cluster.connectedComponents(docs.select(col("doc_id")), "doc_id",
        edges, "id_a", "id_b")
      .filter(col("id") === col("cluster_id"))
      .select(col("id").as("doc_id"),
        splitOf(h)
          .as("split"))
      .orderBy(col("doc_id"))
  }

  val curatePipelineSql: String = {
    val in = TextOps.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH RECURSIVE kept AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      LEN(toks) AS n_words,
       |      CAST(LENGTH(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / LEN(toks) AS awl,
       |      LEN(list_filter(toks, w -> w IN ($in))) AS n_stop
       |    FROM (SELECT doc_id, text,
       |            regexp_split_to_array(TRIM(text), '\\s+') AS toks
       |          FROM documents))
       |  WHERE n_words BETWEEN 20 AND 500 AND awl BETWEEN 2.5 AND 8.0 AND n_stop >= 1
       |), ${Sketch.minhashCandidateCtes("kept")},
       |cands AS (
       |  SELECT doc_a, doc_b FROM cand
       |  JOIN sg sa ON doc_a = sa.doc_id
       |  JOIN sg sb ON doc_b = sb.doc_id
       |  WHERE len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2]))
       |        / ${Sketch.NumHashes}.0 >= ${Sketch.MinEstJaccard}
       |), shl AS (SELECT doc_id, list(s) AS shl FROM sh GROUP BY 1),
       |verified AS (
       |  SELECT doc_a, doc_b FROM cands
       |  JOIN shl a ON doc_a = a.doc_id
       |  JOIN shl b ON doc_b = b.doc_id
       |  WHERE CAST(len(list_filter(a.shl, s -> list_contains(b.shl, s))) AS DOUBLE)
       |        / (len(a.shl) + len(b.shl)
       |           - len(list_filter(a.shl, s -> list_contains(b.shl, s))))
       |        >= ${TextOps.JaccardThreshold}),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM verified
       |  UNION
       |  SELECT doc_b, doc_a FROM verified),
       |lab(node, lab) AS (
       |  SELECT doc_id, doc_id FROM kept
       |  UNION
       |  SELECT e.b, l.lab FROM lab l JOIN edges e ON e.a = l.node
       |)
       |SELECT node AS doc_id,
       |  ${splitSqlOver("node")} AS split
       |FROM lab GROUP BY node HAVING MIN(lab) = node ORDER BY doc_id""".stripMargin
  }

  // --- C35: contrastive pair mining ----------------------------------------
  /** Mined pairs keep Jaccard in [lo, hi): related enough to be positives,
    * not so close they are duplicates (those belong to dedup, not to a
    * contrastive batch). */
  val MinePairLo = 0.3
  val MinePairHi = 0.9
  /** Every 41st document contributes a truncated variant (first 2/3 of its
    * words) under a shifted id — a PARTIAL-overlap relative (Jaccard
    * ≈ 0.6), the relationship contrastive mining exists to find. The
    * natural corpus' near-dups are ≥ 0.9 (dedup territory), so without
    * the seed the band [lo, hi) is empty. Deterministic, so the oracle
    * rebuilds it. */
  val MinePairMod = 41
  val MinePairShift = 700000000L

  /** The mining corpus: documents plus the seeded truncated variants. */
  def minePairsCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    val toks = split(trim(col("text")), "\\s+")
    docs.unionAll(
      docs.filter(col("doc_id") % MinePairMod === 0)
        .select((col("doc_id") + MinePairShift).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1), (size(toks) * 2 / 3).cast("int")))
            .as("text")))
  }

  /** Mine (anchor, positive) training pairs for contrastive/embedding
    * training from the corpus' near-dup structure: MinHash-LSH band
    * candidacy (NO estimate filter — the exact verify decides, so
    * candidacy is a pure function of the band layout), per-pair exact
    * Jaccard in [[MinePairLo]], [[MinePairHi]]), and a reshard-stable
    * split on the anchor (C14's hash rule) so a pair never leaks across
    * train/val/test.
    *
    * Scale shape: identical to C20's dedup stage — band-bucket equi-join
    * for candidates, id-keyed shingle fetch for the verify, cost
    * O(candidates); no shingle is ever a join key. */
  def minePairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = minePairsCorpus(spark, dir)
    val cands = Dedup.minhashLshPairs(docs.repartition(col("doc_id")),
      "doc_id", "text", shingleN = 3, numHashes = Sketch.NumHashes,
      bands = Sketch.Bands, minEstJaccard = 0.0)
    val h = substring(md5(col("id_a").cast("string")), 1, 4)
    Dedup.verifyJaccardPairs(cands, docs, "doc_id", "text",
        n = 3, threshold = MinePairLo)
      .filter(col("jaccard") < MinePairHi)
      .select(col("id_a").as("anchor"), col("id_b").as("positive"),
        col("jaccard"),
        splitOf(h)
          .as("split"))
      .orderBy(col("anchor"), col("positive"))
  }

  val minePairsSql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $MinePairShift,
       |    array_to_string(toks[1 : (len(toks) * 2) // 3], ' ') AS text
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |        FROM documents)
       |  WHERE doc_id % $MinePairMod = 0
       |), ${Sketch.minhashCandidateCtes("corpus")},
       |shl AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
       |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |        FROM corpus)
       |), j AS (
       |  SELECT doc_a AS anchor, doc_b AS positive,
       |    CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
       |      / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)))
       |      AS jaccard
       |  FROM cand
       |  JOIN shl a ON a.doc_id = doc_a
       |  JOIN shl b ON b.doc_id = doc_b)
       |SELECT anchor, positive, jaccard,
       |  ${splitSqlOver("anchor")} AS split
       |FROM j WHERE jaccard >= $MinePairLo AND jaccard < $MinePairHi
       |ORDER BY anchor, positive""".stripMargin

  // --- C37: the pretraining-layout composition -----------------------------
  /** The nightly "corpus → training layout" flow as ONE declarative plan:
    * quality gate (C15) → repetition filter (C23) → exact-dedup keepers
    * (C1, min-id survivorship) → deterministic sequence packing (C26) of
    * the survivors.
    *
    * Scale shape: the two filters are map stages Catalyst fuses into the
    * scan (their flags never leave the projection); the dedup is the one
    * content-hash shuffle; packing runs per-shard windows whose
    * parallelism is the shard count. A reader of the output can rebuild
    * any shard alone — placement is a pure function of the surviving doc
    * ids. */
  def preparePretrain(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val gated = docs
      .join(qualityFlagsOn(docs).filter(col("passes") === 1)
        .select(col("doc_id")), "doc_id")
      .join(CorpusOps.textRepetitionOn(docs, "doc_id", "text")
        .filter(col("repetitive") === 0).select(col("doc_id")), "doc_id")
    val keepers = gated
      .groupBy(sha2(col("text"), 256).as("_ch"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val survivors = docs.join(keepers, "doc_id")
    CorpusOps.packSequencesOn(survivors, "doc_id", "text",
      CorpusOps.PackBudget)
  }

  val preparePretrainSql: String =
    s"""WITH q AS (
       |  SELECT doc_id FROM (${qualityFlagsSqlOver("documents", ordered = false)})
       |  WHERE passes = 1
       |), rep AS (
       |  SELECT doc_id FROM (${CorpusOps.textRepetitionSql.replace("ORDER BY w.doc_id", "")})
       |  WHERE repetitive = 0
       |), keepers AS (
       |  SELECT MIN(d.doc_id) AS doc_id
       |  FROM documents d JOIN q USING (doc_id) JOIN rep USING (doc_id)
       |  GROUP BY sha256(d.text)
       |), surv AS (
       |  SELECT d.doc_id, d.text FROM documents d JOIN keepers USING (doc_id)
       |), t AS (
       |  SELECT doc_id,
       |         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |         md5(CAST(doc_id AS VARCHAR)) AS h
       |  FROM surv
       |), o AS (
       |  SELECT doc_id, substr(h, 1, 1) AS shard, n_tokens,
       |         SUM(n_tokens) OVER (PARTITION BY substr(h, 1, 1)
       |           ORDER BY h, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           - n_tokens AS start_off
       |  FROM t)
       |SELECT doc_id, shard, n_tokens, CAST(start_off AS BIGINT) AS start_off,
       |       CAST(start_off + n_tokens AS BIGINT) AS end_off,
       |       CAST(start_off // ${CorpusOps.PackBudget} AS BIGINT) AS first_seq,
       |       CAST((start_off + n_tokens - 1) // ${CorpusOps.PackBudget} AS BIGINT)
       |         AS last_seq
       |FROM o ORDER BY shard, start_off, doc_id""".stripMargin

  // --- C45: overlapping document chunking -----------------------------------
  /** Chunk geometry: 64-token windows, stride 48 (25% overlap) — the RAG /
    * long-context preprocessing shape. */
  val ChunkWidth = 64
  val ChunkStride = 48

  /** Chunk-id packing base: chunk_id = doc_id * [[ChunkIdBase]] + idx is
    * collision-free while idx < 1e9 (a single doc would need ~48e9 tokens
    * at stride 48) and doc_id < 9.2e9 (long headroom) — both checked at
    * runtime via a guarded expression so an out-of-domain corpus fails
    * loudly instead of silently colliding. */
  val ChunkIdBase = 1000000000L

  /** Deterministic overlapping token-window chunking: each document yields
    * `ceil(max(n-W, 0)/S) + 1` chunks starting every S tokens; the last
    * chunk may be short. Chunk ids are a pure function of (doc_id, index)
    * — reshard-stable, rerun-identical, any shard rebuildable alone.
    *
    * Scale shape: a pure MAP stage (tokenize → sequence → explode →
    * slice); no shuffle before the gate sort, and chunk volume is
    * predictable (≈ tokens/S), so downstream sizing is arithmetic. The
    * chunk digest keeps the output comparator-safe and 32 bytes wide
    * regardless of W. */
  def chunkDocumentsOn(docs: DataFrame, idCol: String, textCol: String,
      width: Int, stride: Int): DataFrame = {
    require(width > 0 && stride > 0 && stride <= width,
      s"chunk geometry width=$width stride=$stride")
    docs
      .select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("_toks"))
      .withColumn("_n", size(col("_toks")))
      .filter(col("_n") > 0)
      .withColumn("_idx", explode(sequence(lit(0),
        expr(s"int((greatest(_n - $width, 0) + ${stride - 1}) div $stride)"))))
      .select(
        expr(s"CASE WHEN _idx < ${ChunkIdBase}L AND doc_id >= 0 " +
          s"AND doc_id < ${Long.MaxValue / ChunkIdBase}L " +
          s"THEN doc_id * ${ChunkIdBase}L + _idx " +
          "ELSE raise_error(concat('chunk_id domain exceeded: doc_id=', " +
          "CAST(doc_id AS STRING), ' idx=', CAST(_idx AS STRING))) END")
          .as("chunk_id"),
        col("doc_id"), col("_idx").as("chunk_idx"),
        (col("_idx") * stride + 1).as("start_token"),
        slice(col("_toks"), col("_idx") * stride + 1, lit(width)).as("_chunk"))
      .select(col("chunk_id"), col("doc_id"), col("chunk_idx"),
        col("start_token"), size(col("_chunk")).as("n_tokens"),
        md5(concat_ws(" ", col("_chunk"))).as("chunk_md5"))
      .orderBy(col("chunk_id"))
  }

  def chunkDocuments(spark: SparkSession, dir: String): DataFrame =
    chunkDocumentsOn(Tables(spark, dir).documents, "doc_id", "text",
      ChunkWidth, ChunkStride)

  val chunkDocumentsSql: String = {
    val (w, s) = (ChunkWidth, ChunkStride)
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
       |         len(regexp_split_to_array(trim(text), '\\s+')) AS n
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, n, toks,
       |         unnest(range(0, (GREATEST(n - $w, 0) + ${s - 1}) // $s + 1))
       |           AS idx
       |  FROM t WHERE n > 0)
       |SELECT doc_id * ${ChunkIdBase} + idx AS chunk_id, doc_id,
       |  CAST(idx AS INT) AS chunk_idx,
       |  CAST(idx * $s + 1 AS INT) AS start_token,
       |  CAST(len(toks[idx * $s + 1 : idx * $s + $w]) AS INT) AS n_tokens,
       |  md5(array_to_string(toks[idx * $s + 1 : idx * $s + $w], ' '))
       |    AS chunk_md5
       |FROM c ORDER BY chunk_id""".stripMargin
  }

  // --- C59: per-day quality drift -------------------------------------------
  /** Deterministic event-day for the document feed: an md5-derived 16-bit
    * hash of doc_id spread over a [[DriftDays]]-day window from
    * [[DriftEpoch]] — content-addressed like every synthetic assignment
    * here, so both engines AND the streaming replay (B52) agree
    * bit-for-bit, and reprocessing never moves a document's day. */
  val DriftDays = 14
  val DriftEpoch = "2024-01-01"

  private def driftDayCol: Column = date_add(to_date(lit(DriftEpoch)),
    conv(substring(md5(concat(col("doc_id").cast("string"), lit(":day"))),
      1, 4), 16, 10).cast("int") % DriftDays)

  /** Per-day gate counters — the streaming-safe half of the drift monitor:
    * C15's codegen'd flag chain (a pure map stage) composed with one
    * partial-agg shuffle carrying O(days) rows. Runs unchanged as a
    * streaming aggregation ([[graft.streaming.StreamOps]] B52): state is
    * one counter row per (day, reason-bucket), never O(corpus). */
  def qualityDriftAggOn(docs: DataFrame): DataFrame =
    qualityFlagsOn(docs)
      .withColumn("day", driftDayCol)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("passes").cast("long")).as("n_pass"),
        sum(when(col("reject_reason") === "too_short", 1L).otherwise(0L))
          .as("n_too_short"),
        sum(when(col("reject_reason") === "too_long", 1L).otherwise(0L))
          .as("n_too_long"),
        sum(when(col("reject_reason") === "word_len", 1L).otherwise(0L))
          .as("n_word_len"),
        sum(when(col("reject_reason") === "no_stopwords", 1L).otherwise(0L))
          .as("n_no_stopwords"))

  /** Rates + day-over-day drift over the drained counters: pass_rate is
    * one IEEE division of exact integers; rate_delta subtracts the
    * previous day's identical expression (lag over the O(days) board —
    * the single-partition window is bounded by the calendar, not the
    * corpus). The signal a curation team alerts on: a falling pass_rate
    * means the upstream feed's quality mix is drifting. */
  def qualityDriftOf(counts: DataFrame): DataFrame = {
    // the same one-partition O(days) window, with a DEFINED partition
    // spec (see BoundedBoard.pinnedZero) so only genuinely unbounded
    // frames trip the WindowExec warning census
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(BoundedBoard.pinnedZero(col("day"))).orderBy(col("day"))
    counts
      .withColumn("pass_rate",
        col("n_pass").cast("double") / col("n_docs").cast("double"))
      .withColumn("rate_delta",
        col("pass_rate") - lag(col("pass_rate"), 1).over(w))
      .orderBy(col("day"))
  }

  def qualityDrift(spark: SparkSession, dir: String): DataFrame =
    qualityDriftOf(qualityDriftAggOn(Tables(spark, dir).documents))

  val qualityDriftSql: String = {
    val h16 = CorpusOps.hex4Sql(
      "substr(md5(CAST(doc_id AS VARCHAR) || ':day'), 1, 4)")
    s"""WITH q AS (
       |  ${qualityFlagsSqlOver("documents", ordered = false)}
       |), c AS (
       |  SELECT DATE '$DriftEpoch' + CAST(($h16) % $DriftDays AS INT) AS day,
       |    COUNT(*) AS n_docs,
       |    SUM(passes) AS n_pass,
       |    SUM(CASE WHEN reject_reason = 'too_short' THEN 1 ELSE 0 END) AS n_too_short,
       |    SUM(CASE WHEN reject_reason = 'too_long' THEN 1 ELSE 0 END) AS n_too_long,
       |    SUM(CASE WHEN reject_reason = 'word_len' THEN 1 ELSE 0 END) AS n_word_len,
       |    SUM(CASE WHEN reject_reason = 'no_stopwords' THEN 1 ELSE 0 END) AS n_no_stopwords
       |  FROM q GROUP BY 1)
       |SELECT day, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_pass AS BIGINT) AS n_pass,
       |  CAST(n_too_short AS BIGINT) AS n_too_short,
       |  CAST(n_too_long AS BIGINT) AS n_too_long,
       |  CAST(n_word_len AS BIGINT) AS n_word_len,
       |  CAST(n_no_stopwords AS BIGINT) AS n_no_stopwords,
       |  CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE) AS pass_rate,
       |  CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |    - LAG(CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE))
       |      OVER (ORDER BY day) AS rate_delta
       |FROM c ORDER BY day""".stripMargin
  }

  // --- B61: the composed ingest admission chain ----------------------------
  /** What a deploy actually runs at the ingest door — the four quarantine
    * gates COMPOSED, in rejection-priority order: quality (C15) →
    * exact-dup vs history (C27's bloom + sha verify) → near-dup vs the
    * persisted history index (C54) → benchmark containment (C62). Each
    * stage is the existing operator's own spelling — this file adds only
    * the composition and the verdict precedence. Every static side is
    * amortized: the history bloom aggregates once, the band index is the
    * shared persisted scratch, the benchmark shingles broadcast once.
    *
    * Chain-specific seeding: the C62 pad (1200 tokens) would trip the
    * quality gate's 500-word cap before containment ever saw the doc, so
    * the chain's contaminated class pads with [[ChainPadTokens]] over
    * benchmark sources of ≤ [[ChainContamMaxWords]] words — long enough to
    * drown symmetric Jaccard below the C54 threshold, short enough to walk
    * through the quality gate; and the clean class re-enters docs with the
    * WORD ORDER reversed: every word-level quality stat is unchanged (the
    * gate passes iff the source passes) while no 3-shingle survives, so
    * neither dedup gate can fire — the accepted path is exercised, not
    * assumed. */
  val ChainPadTokens = 350
  val ChainContamMaxWords = 100
  val ChainExactShift = 200000000L
  val ChainNearShift = 300000000L
  val ChainCleanShift = 400000000L
  /** The r15 fifth-stage class: a 200-char EXCERPT of a history doc with
    * a fresh continuation — long enough shared opening that the winnow
    * gate must fire (the first 128 sanitized chars are the source's),
    * fresh enough tail that Jaccard stays far below the near-dup
    * threshold and the sha never matches (sources shorter than the
    * excerpt are excluded so the excerpt is strictly proper). */
  val ChainWinnowShift = 600000000L
  val ChainWinnowTailTokens = 120
  val ChainExcerptChars = 200

  /** The deterministic arriving batch — ONE spelling shared by the B61
    * stream twin and the oracle (four classes: exact copies, near-dup
    * variants, clean reversals, contaminated embeddings). Precondition:
    * source ids < 1e8 — the classes are spread 1e8 apart, so a wider
    * source id space would alias one class onto another (tools/replicate.py
    * maps replicated ids as id·N + r and refuses any id that reaches 1e8
    * for exactly this reason). */
  def admissionBatchOn(d: DataFrame): DataFrame = {
    import graft.operators.CorpusOps.{BenchmarkMod, ContaminatedShift}
    val toks = split(trim(col("text")), "\\s+")
    val filler = concat_ws(" ",
      transform(sequence(lit(0), lit(ChainPadTokens - 1)),
        i => concat(lit("pad"), i)))
    val wtail = concat_ws(" ",
      transform(sequence(lit(0), lit(ChainWinnowTailTokens - 1)),
        i => concat(lit("wtail"), i)))
    CorpusOps.incrementalBatchOn(d) // +2e8 exact copies, +3e8 near-dups
      .unionAll(d.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + ChainCleanShift).as("doc_id"),
          concat_ws(" ", reverse(toks)).as("text")))
      .unionAll(d.filter(col("doc_id") % BenchmarkMod === 0 &&
          size(toks) <= ChainContamMaxWords)
        .select((col("doc_id") + ContaminatedShift).as("doc_id"),
          concat(filler, lit(" "), col("text")).as("text")))
      .unionAll(d.filter(col("doc_id") % 19 === 0 &&
          col("doc_id") % BenchmarkMod =!= 0 &&
          length(col("text")) > ChainExcerptChars + 20)
        .select((col("doc_id") + ChainWinnowShift).as("doc_id"),
          concat(substring(col("text"), 1, ChainExcerptChars), lit(" "),
            wtail).as("text")))
  }

  /** History's df-capped winnow hash board — the admission chain's FIFTH
    * static side (r14 verdict #4), amortized ONCE outside the stream like
    * the bloom/band-index/benchmark sides: C110's selection over history,
    * per-doc distinct hashes, corpus-hot hashes (df > WinnowMaxDf)
    * dropped exactly as C111 does. Checkpointed — it is rejoined per
    * micro-batch. */
  def admissionHistWinnow(history: DataFrame): DataFrame = {
    val hs = TextOps.winnowHashes(history, "doc_id", "text")
      .localCheckpoint(eager = true)
    val hf = hs.groupBy(col("h")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= TextOps.WinnowMaxDf).select(col("h"))
    hs.join(hf, "h").localCheckpoint(eager = true)
  }

  /** Per-doc admission verdicts for one batch: stage = the FIRST gate that
    * rejects (fixed precedence, like C15's reject_reason), else accepted.
    * All five gates evaluate declaratively over the batch; the precedence
    * is one CASE — Catalyst sees a single plan, not five passes. The
    * winnow copy-gate (r14 verdict #4) sits LAST: it is the weakest
    * evidence class (a shared fingerprint run, not whole-doc identity/
    * similarity/benchmark hits), so any stronger verdict wins. */
  def admissionVerdictsOn(spark: SparkSession, rawBatch: DataFrame,
      history: DataFrame, histBloom: Array[Byte], indexPath: String,
      bsh: DataFrame, histWinnow: DataFrame): DataFrame = {
    // the batch subtree is referenced FIVE times (base + four gates) and
    // Catalyst does not dedupe common subtrees across a join DAG — pin it
    // once so a streaming micro-batch's source scan + class derivation
    // does not re-run per gate (local-mode block storage, like the
    // drain helper's pin)
    val batch = rawBatch.localCheckpoint(true)
    val flags = qualityFlagsOn(batch)
      .select(col("doc_id"), col("passes"), col("reject_reason"))
    val notExact = CorpusOps.dedupIncrementalWith(histBloom, history, batch,
        "doc_id", "text")
      .select(col("doc_id"), lit(1).as("_new"))
    val near = Dedup.dedupIndexProbe(spark, indexPath, batch,
        "doc_id", "text", minEstJaccard = Sketch.MinEstJaccard)
      .select(col("batch_id").as("doc_id")).distinct()
      .select(col("doc_id"), lit(1).as("_near"))
    val contam = CorpusOps.containmentOf(
        CorpusOps.containmentPairsOn(batch, bsh, "doc_id", "text", 3),
        bsh, CorpusOps.ContainmentThreshold)
      .select(col("train_id").as("doc_id")).distinct()
      .select(col("doc_id"), lit(1).as("_contam"))
    // fifth stage: the batch winnows map-side (C110's per-doc selection)
    // and a doc is a copy suspect when SOME single history doc carries
    // ≥ WinnowMinShared of its hashes AND ≥ HALF its fingerprint set
    // (exact integers: 2·ns ≥ nb). The containment ratio is what makes
    // this a COPY gate rather than a shared-vocabulary detector: on this
    // corpus true copies (exact/near/excerpt classes) pair at ratio
    // ≥ 0.52 while word-order reversals — which legitimately share
    // long-word-interior 8-grams with history — top out at 0.32; a bare
    // ns ≥ 3 rule flagged EVERY reversal and extinguished the accepted
    // path (measured at sf0.01 before this condition landed).
    val bh = TextOps.winnowHashes(batch, "doc_id", "text")
      .localCheckpoint(true) // feeds the per-doc count AND the pair join
    val bn = bh.groupBy(col("doc_id")).agg(count(lit(1)).as("_nb"))
    val wcopy = bh
      .join(histWinnow.select(col("doc_id").as("_hid"), col("h")), "h")
      .groupBy(col("doc_id"), col("_hid"))
      .agg(count(lit(1)).as("_ns"))
      .join(bn, "doc_id")
      .filter(col("_ns") >= TextOps.WinnowMinShared &&
        col("_ns") * 2 >= col("_nb"))
      .select(col("doc_id")).distinct()
      .select(col("doc_id"), lit(1).as("_wcopy"))
    batch.select(col("doc_id"))
      .join(flags, Seq("doc_id"), "left")
      .join(notExact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .join(wcopy, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("passes") === 0,
          concat(lit("quality_"), col("reject_reason")))
          .when(col("_new").isNull, lit("exact_dup"))
          .when(col("_near") === 1, lit("near_dup"))
          .when(col("_contam") === 1, lit("contaminated"))
          .when(col("_wcopy") === 1, lit("winnow_copy"))
          .otherwise(lit("accepted")).as("stage"))
  }

  /** Twin: the composed CTEs — quality flags over the batch, the sha-set
    * exact check, the minhash band candidacy over history ∪ batch, and the
    * containment pairs, fused by the same precedence CASE. */
  val admissionChainSql: String = {
    import graft.operators.CorpusOps.{BenchmarkMod, ContaminatedShift,
      ContainmentThreshold}
    import graft.operators.Sketch.{MinEstJaccard, NumHashes}
    s"""WITH batch AS (
       |  SELECT doc_id + $ChainExactShift AS doc_id, text
       |  FROM documents WHERE doc_id % 11 = 0
       |  UNION ALL
       |  SELECT doc_id + $ChainNearShift,
       |         text || ' fresh ' || CAST(doc_id AS VARCHAR)
       |  FROM documents WHERE doc_id % 13 = 0
       |  UNION ALL
       |  SELECT doc_id + $ChainCleanShift,
       |         array_to_string(list_reverse(
       |           regexp_split_to_array(trim(text), '\\s+')), ' ')
       |  FROM documents WHERE doc_id % 17 = 0
       |  UNION ALL
       |  SELECT doc_id + $ContaminatedShift,
       |         array_to_string(list_transform(
       |           range(0, $ChainPadTokens), i -> 'pad' || i), ' ')
       |           || ' ' || text
       |  FROM documents WHERE doc_id % $BenchmarkMod = 0
       |    AND len(regexp_split_to_array(trim(text), '\\s+'))
       |        <= $ChainContamMaxWords
       |  UNION ALL
       |  SELECT doc_id + $ChainWinnowShift,
       |         substr(text, 1, $ChainExcerptChars) || ' ' ||
       |           array_to_string(list_transform(
       |             range(0, $ChainWinnowTailTokens), i -> 'wtail' || i),
       |             ' ')
       |  FROM documents WHERE doc_id % 19 = 0
       |    AND doc_id % $BenchmarkMod <> 0
       |    AND LENGTH(text) > ${ChainExcerptChars + 20}
       |), q AS (
       |  ${qualityFlagsSqlOver("batch", ordered = false)}
       |), ex AS (
       |  SELECT doc_id FROM batch
       |  WHERE sha256(text) IN (SELECT sha256(text) FROM documents)
       |), corpus2 AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id, text FROM batch
       |), ${Sketch.minhashCandidateCtes("corpus2")},
       |np AS (
       |  SELECT DISTINCT
       |    CASE WHEN doc_a >= $ChainExactShift THEN doc_a ELSE doc_b END AS doc_id
       |  FROM cand
       |  JOIN sg sa ON doc_a = sa.doc_id
       |  JOIN sg sb ON doc_b = sb.doc_id
       |  WHERE (doc_a >= $ChainExactShift) <> (doc_b >= $ChainExactShift)
       |    AND len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2]))
       |        / $NumHashes.0 >= $MinEstJaccard
       |), bsh2 AS (
       |  SELECT doc_id AS bench_id, unnest(list_distinct(list_transform(
       |         range(1, len(toks)-1),
       |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |        FROM documents WHERE doc_id % $BenchmarkMod = 0)
       |), bsz AS (SELECT bench_id, COUNT(*) AS bench_n FROM bsh2 GROUP BY 1),
       |tsh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |         range(1, len(toks)-1),
       |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |        FROM batch)
       |), cp AS (
       |  SELECT DISTINCT p.doc_id
       |  FROM (SELECT tsh.doc_id, bsh2.bench_id, COUNT(*) AS n_shared
       |        FROM tsh JOIN bsh2 USING (s) GROUP BY 1, 2) p
       |  JOIN bsz USING (bench_id)
       |  WHERE CAST(n_shared AS DOUBLE) / bench_n >= $ContainmentThreshold
       |),
       |${TextOps.winnowHashCtesOver("documents", "wh_")},
       |${TextOps.winnowHashCtesOver("batch", "wb_")},
       |wf AS (
       |  SELECT h FROM wh_hs GROUP BY h
       |  HAVING COUNT(*) <= ${TextOps.WinnowMaxDf}
       |), wk AS (
       |  SELECT wh_hs.doc_id, wh_hs.h FROM wh_hs JOIN wf USING (h)
       |), wbn AS (
       |  SELECT doc_id, COUNT(*) AS nb FROM wb_hs GROUP BY 1
       |), wc AS (
       |  SELECT DISTINCT p.doc_id FROM (
       |    SELECT bh.doc_id, wk.doc_id AS hid, COUNT(*) AS ns
       |    FROM wb_hs bh JOIN wk ON bh.h = wk.h GROUP BY 1, 2) p
       |  JOIN wbn ON p.doc_id = wbn.doc_id
       |  WHERE p.ns >= ${TextOps.WinnowMinShared} AND p.ns * 2 >= wbn.nb
       |)
       |SELECT b.doc_id,
       |  CASE WHEN q.passes = 0 THEN 'quality_' || q.reject_reason
       |       WHEN b.doc_id IN (SELECT doc_id FROM ex) THEN 'exact_dup'
       |       WHEN b.doc_id IN (SELECT doc_id FROM np) THEN 'near_dup'
       |       WHEN b.doc_id IN (SELECT doc_id FROM cp) THEN 'contaminated'
       |       WHEN b.doc_id IN (SELECT doc_id FROM wc) THEN 'winnow_copy'
       |       ELSE 'accepted' END AS stage
       |FROM batch b JOIN q ON b.doc_id = q.doc_id
       |ORDER BY 1""".stripMargin
  }

  // --- C78: model-based quality classifier (multinomial Naive Bayes) ------
  /** Every NbSeedMod-th doc is the labeled seed — emulating the real
    * shape: a bounded labeled set, score EVERYTHING. */
  val NbSeedMod = 3
  /** Bounded feature vocabulary (top-K by seed frequency, (total desc,
    * tok) cut — deterministic in both engines, the C31 discipline). */
  val NbVocabK = 20000
  /** Quantization grid: micro-nats (the C49/C51 grid, not C31's pico) —
    * per-token weights are ln of integer count pairs, but the model also
    * folds two single-value constants (smoothing denominators, class
    * prior); at 1e6 the floor-boundary flip window per value is ~4e-10,
    * negligible, while log-odds keep ~1e-6-nat resolution. */
  val NbQuantumSql = "1e6"

  /** Frozen NB model: the bounded per-token weight table (broadcast at
    * score time) + the quantized per-token smoothing constant and class
    * prior. All three live on the same micro-nat grid, so scoring is
    * exact integer arithmetic until one final division. */
  private[graft] case class NbModel(weights: DataFrame, perTokQ: Long,
      priorQ: Long)

  /** (doc_id, toks, seed_label) over any documents frame: seed_label is
    * the C15 gate's own composite pass bit ([[qualityExprsOf]] — one
    * spelling, fused map-side, no flags join) on seed rows, NULL
    * elsewhere. */
  private[graft] def nbFrameOf(documents: DataFrame, idCol: String,
      textCol: String): DataFrame =
    documents.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"),
      when(col(idCol) % NbSeedMod === 0,
        qualityExprsOf(col(textCol)).passes).as("seed_label"))

  /** Train multinomial NB with add-one smoothing on the labeled seed rows
    * of a [[nbFrameOf]] frame. One token-explode aggregation (shuffle
    * bounded by the vocabulary, map-side partials) trains the
    * class-conditional counts; the top-K cut and the four scalar totals
    * are bounded driver literals (the lmVocabOf pattern). Weight per kept
    * token = ln((c1+1)/(c0+1)) micro-nat-quantized; tokens outside the
    * cut are OOV for BOTH classes, so their whole contribution is the
    * per-token smoothing constant — OOV needs no bin of its own. */
  private[graft] def nbTrain(frame: DataFrame): NbModel = {
    val seedToks = frame.filter(col("seed_label").isNotNull)
      .select(explode(col("toks")).as("tok"),
        col("seed_label").cast("bigint").as("label"))
    val counts = seedToks.groupBy(col("tok"))
      .agg(sum(col("label")).as("c1"),
        sum(lit(1L) - col("label")).as("c0"))
      .localCheckpoint(eager = true)
    val vocab = counts
      .orderBy((col("c1") + col("c0")).desc, col("tok"))
      .limit(NbVocabK).localCheckpoint(eager = true)
    val t = vocab.agg(coalesce(sum(col("c1")), lit(0L)),
      coalesce(sum(col("c0")), lit(0L)), count(lit(1))).head()
    val (t1, t0, v) = (t.getLong(0), t.getLong(1), t.getLong(2))
    val d = frame.filter(col("seed_label").isNotNull)
      .agg(coalesce(sum(col("seed_label").cast("bigint")), lit(0L)),
        count(lit(1))).head()
    val d1 = d.getLong(0); val d0 = d.getLong(1) - d1
    val weights = vocab.select(col("tok"),
      expr(s"CAST(floor((ln(CAST(c1 + 1 AS DOUBLE)) - " +
        s"ln(CAST(c0 + 1 AS DOUBLE))) * $NbQuantumSql) AS BIGINT)").as("w_q"))
    // scala math.log IS the ln Spark's expression evaluates (both
    // java.lang.Math.log), so driver constants and executor weights sit
    // on one grid; DuckDB parity rests on the same integer-input-ln
    // argument as the weights themselves (C31/C49 discipline).
    val q = 1e6
    NbModel(weights,
      math.floor((math.log(t0 + v + 1.0) - math.log(t1 + v + 1.0)) * q).toLong,
      math.floor((math.log(d1 + 1.0) - math.log(d0 + 1.0)) * q).toLong)
  }

  /** Score ANY [[nbFrameOf]]-shaped frame under a frozen model: token
    * explode → broadcast weight join → one partially-aggregated row per
    * doc. The corpus never shuffles; log-odds stay integer micro-nats
    * until the final division, and the predicted label compares the
    * INTEGER sum with zero — engine-exact. */
  private[graft] def nbScore(model: NbModel, frame: DataFrame): DataFrame = {
    val scoreQ = col("_wq") + col("n_tokens").cast("bigint") * model.perTokQ +
      model.priorQ
    frame.select(col("doc_id"), col("seed_label"),
        explode(col("toks")).as("tok"))
      .join(broadcast(model.weights), Seq("tok"), "left")
      .groupBy(col("doc_id"), col("seed_label"))
      .agg(sum(coalesce(col("w_q"), lit(0L))).as("_wq"),
        count(lit(1)).cast("int").as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (scoreQ.cast("double") / expr(NbQuantumSql)).as("log_odds"),
        (scoreQ >= 0).cast("int").as("pred"),
        col("seed_label").cast("int").as("seed_label"))
    // no gate sort here — the one-shot entry point adds it; recurring
    // callers (B63, per micro-batch) must not pay a discarded sort
  }

  /** The model-based quality filter every production pipeline pairs with
    * the heuristic gate (CCNet's fastText shape): train a multinomial
    * Naive Bayes on a BOUNDED labeled seed (every [[NbSeedMod]]-th doc,
    * labeled by the C15 gate's own pass bit — classifier distills the
    * heuristic, then generalizes it to token evidence), score the whole
    * corpus with per-doc log-odds and a predicted label. seed_label rides
    * along (NULL off-seed) so disagreement analysis — the reason to
    * train a classifier at all — is one filter away. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val frame = nbFrameOf(Tables(spark, dir).documents, "doc_id", "text")
    nbScore(nbTrain(frame), frame).orderBy(col("doc_id"))
  }

  /** Twin: the same seed labeling (the C15 flags CTE — one spelling),
    * counts, (total desc, tok) cut, scalar totals, micro-nat weights and
    * constants, and integer scoring. */
  val qualityClassifierSql: String =
    s"""WITH fl AS (
       |  SELECT doc_id, passes
       |  FROM (${qualityFlagsSqlOver("documents", ordered = false)})
       |), d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
       |    CASE WHEN doc_id % $NbSeedMod = 0 THEN passes ELSE NULL END AS seed_label
       |  FROM documents JOIN fl USING (doc_id)
       |), st AS (
       |  SELECT unnest(toks) AS tok, CAST(seed_label AS BIGINT) AS label
       |  FROM d WHERE seed_label IS NOT NULL
       |), cnt AS (
       |  SELECT tok, CAST(SUM(label) AS BIGINT) AS c1,
       |         CAST(SUM(1 - label) AS BIGINT) AS c0
       |  FROM st GROUP BY 1
       |), v AS (
       |  SELECT tok, c1, c0 FROM cnt ORDER BY (c1 + c0) DESC, tok LIMIT $NbVocabK
       |), sc AS (
       |  SELECT CAST(COALESCE(SUM(c1), 0) AS BIGINT) AS t1,
       |         CAST(COALESCE(SUM(c0), 0) AS BIGINT) AS t0,
       |         COUNT(*) AS vn
       |  FROM v
       |), dc AS (
       |  SELECT CAST(COALESCE(SUM(seed_label), 0) AS BIGINT) AS d1,
       |         COUNT(*) AS dn
       |  FROM d WHERE seed_label IS NOT NULL
       |), w AS (
       |  SELECT tok, CAST(floor((ln(CAST(c1 + 1 AS DOUBLE)) -
       |    ln(CAST(c0 + 1 AS DOUBLE))) * $NbQuantumSql) AS BIGINT) AS w_q
       |  FROM v
       |), k AS (
       |  SELECT CAST(floor((ln(CAST(t0 + vn + 1 AS DOUBLE)) -
       |           ln(CAST(t1 + vn + 1 AS DOUBLE))) * $NbQuantumSql) AS BIGINT) AS ptq,
       |         CAST(floor((ln(CAST(d1 + 1 AS DOUBLE)) -
       |           ln(CAST(dn - d1 + 1 AS DOUBLE))) * $NbQuantumSql) AS BIGINT) AS prq
       |  FROM sc CROSS JOIN dc
       |), terms AS (SELECT doc_id, unnest(toks) AS tok FROM d),
       |s AS (
       |  SELECT doc_id, CAST(SUM(COALESCE(w_q, 0)) AS BIGINT) AS wq,
       |         COUNT(*) AS nt
       |  FROM terms LEFT JOIN w USING (tok) GROUP BY 1)
       |SELECT d.doc_id, CAST(nt AS INT) AS n_tokens,
       |  CAST(wq + nt * ptq + prq AS DOUBLE) / $NbQuantumSql AS log_odds,
       |  CAST(CASE WHEN wq + nt * ptq + prq >= 0 THEN 1 ELSE 0 END AS INT) AS pred,
       |  CAST(seed_label AS INT) AS seed_label
       |FROM d JOIN s USING (doc_id) CROSS JOIN k
       |ORDER BY d.doc_id""".stripMargin

  // --- C90: uncertainty sampling (active learning) --------------------------
  /** Acquisition size for the canned query. */
  val UncertaintyK = 50

  /** Active-learning acquisition over the C78 classifier (uncertainty
    * sampling, Lewis & Gale SIGIR'94): the docs whose log-odds sit
    * closest to the decision boundary are the ones a human label buys
    * the most model improvement on — the label-efficiency loop every
    * classifier-gated pipeline runs to grow its seed. Scores are C78's
    * own (`nbTrain`/`nbScore` — one spelling); this key adds ONLY the
    * |log-odds| ranking. Parity: log_odds is one IEEE division of the
    * same integer micro-nat sum in both engines, so |·| ordering is
    * engine-identical; (|log_odds|, doc_id) is a total order.
    *
    * Scale shape: scoring is C78's broadcast-join map + per-doc rollup;
    * selection plans as TakeOrderedAndProject (bounded heaps) + a k-row
    * rank window. 2-exchange budget pinned (measured 2). */
  def uncertaintySample(spark: SparkSession, dir: String): DataFrame = {
    val frame = nbFrameOf(Tables(spark, dir).documents, "doc_id", "text")
    nbScore(nbTrain(frame), frame)
      .select(col("doc_id"), col("n_tokens"), col("log_odds"), col("pred"),
        col("seed_label"))
      .orderBy(abs(col("log_odds")), col("doc_id"))
      .limit(UncertaintyK)
      .select(col("doc_id"), col("n_tokens"), col("log_odds"), col("pred"),
        col("seed_label"),
        row_number().over(Window
            .partitionBy(BoundedBoard.pinnedZero(col("doc_id")))
            .orderBy(abs(col("log_odds")), col("doc_id")))
          .cast("int").as("rank"))
      .orderBy(col("rank"))
  }

  /** Twin: C78's full twin as the scorer, then the same ranking. */
  lazy val uncertaintySampleSql: String =
    s"""SELECT doc_id, n_tokens, log_odds, pred, seed_label,
       |  CAST(row_number() OVER (ORDER BY abs(log_odds), doc_id) AS INT)
       |    AS rank
       |FROM ($qualityClassifierSql)
       |QUALIFY rank <= $UncertaintyK
       |ORDER BY rank""".stripMargin

  // --- C87: ensemble quality verdict ---------------------------------------
  /** LM-fluency gate for the ensemble: C31's cross-entropy buckets run
    * 0–9; ≤ 2 splits the gate corpus (139 vs 361 at sf0.01), so both
    * vote directions are exercised and oracle-checked at every sf. */
  val EnsembleLmBucketMax = 2

  /** The ENSEMBLE quality verdict production pipelines actually ship
    * (FineWeb/RefinedWeb combine signals; no single filter survives
    * contact with a real corpus): three independent per-doc signals —
    * the C15 heuristic gate, the C78 learned classifier, and C31's
    * LM-fluency bucket — vote, and majority (≥ 2 of 3) accepts. Each
    * signal is the existing operator's OWN spelling
    * ([[qualityExprsOf]] / [[nbTrain]]+[[nbScore]] /
    * [[graft.operators.CorpusOps.unigramLogprobOn]]); this operator
    * adds ONLY the vote — the B61 composition discipline applied to
    * quality scoring.
    *
    * Scale shape: the gate is map-side; the NB and LM signals are each
    * one broadcast-join + per-doc partial agg; the vote LEFT-joins three
    * doc-keyed frames (co-partitioned by the join) so every input doc
    * receives a verdict row even when a learned signal has no rows for
    * it. 5-exchange budget pinned. */
  /** The two TRAINED signals, frozen: the NB model and the bounded LM
    * vocabulary — what a deploy amortizes offline (the heuristic gate
    * needs no training). */
  private[graft] case class EnsembleModels(nb: NbModel,
      lm: graft.operators.CorpusOps.LmVocab)

  private[graft] def ensembleModelsOf(documents: DataFrame, idCol: String,
      textCol: String): EnsembleModels = {
    val docs = documents.select(col(idCol).as("doc_id"),
      col(textCol).as("text"))
    EnsembleModels(
      nbTrain(nbFrameOf(docs, "doc_id", "text")),
      graft.operators.CorpusOps.lmVocabOf(docs.select(col("doc_id"),
        graft.operators.TextOps.tokens(col("text")).as("toks"))))
  }

  /** The vote under FROZEN models — the per-batch caller's shape (B66);
    * the one-shot entry trains and votes in one call. */
  private[graft] def qualityEnsembleWith(models: EnsembleModels,
      documents: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = documents.select(col(idCol).as("doc_id"),
      col(textCol).as("text"))
    val gate = docs.select(col("doc_id"),
      qualityExprsOf(col("text")).passes.as("gate_pass"))
    val nb = nbScore(models.nb, nbFrameOf(docs, "doc_id", "text"))
      .select(col("doc_id"), col("pred").as("nb_pred"))
    val lm = graft.operators.CorpusOps
      .unigramLogprobWith(models.lm, docs, "doc_id", "text")
      .select(col("doc_id"),
        (col("ppl_bucket") <= EnsembleLmBucketMax).cast("int").as("lm_ok"))
    // LEFT joins from the gate frame: a doc whose tokenization yields no
    // exploded rows (empty/NULL text) must still receive a verdict row at
    // the streamed ingest door — the missing learned signals vote reject
    // (coalesce to 0), they don't silently drop the doc.
    gate.join(nb, Seq("doc_id"), "left").join(lm, Seq("doc_id"), "left")
      .select(col("doc_id"), col("gate_pass"),
        coalesce(col("nb_pred"), lit(0)).as("nb_pred"),
        coalesce(col("lm_ok"), lit(0)).as("lm_ok"))
      .withColumn("score", col("gate_pass") + col("nb_pred") + col("lm_ok"))
      .withColumn("verdict", (col("score") >= 2).cast("int"))
      .orderBy(col("doc_id"))
  }

  def qualityEnsembleOn(documents: DataFrame, idCol: String,
      textCol: String): DataFrame =
    qualityEnsembleWith(ensembleModelsOf(documents, idCol, textCol),
      documents, idCol, textCol)

  // input spread DELIBERATELY not applied (r17): the ensemble's model
  // training runs as separate eager actions, each re-paying the
  // round-robin exchange — measured 1.0 -> 2.0 s against the spread
  def qualityEnsemble(spark: SparkSession, dir: String): DataFrame =
    qualityEnsembleOn(Tables(spark, dir).documents, "doc_id", "text")

  /** Twin: each signal's existing twin as a subquery, then the vote —
    * the same LEFT joins + coalesce-to-reject as the Scala side, so a
    * tokenless doc gets a verdict row in both engines. */
  lazy val qualityEnsembleSql: String =
    s"""SELECT g.doc_id, g.gate_pass,
       |  coalesce(nb.nb_pred, 0) AS nb_pred,
       |  coalesce(lm.lm_ok, 0) AS lm_ok,
       |  g.gate_pass + coalesce(nb.nb_pred, 0) + coalesce(lm.lm_ok, 0)
       |    AS score,
       |  CAST(CASE WHEN g.gate_pass + coalesce(nb.nb_pred, 0)
       |                 + coalesce(lm.lm_ok, 0) >= 2
       |       THEN 1 ELSE 0 END AS INT) AS verdict
       |FROM (
       |  SELECT doc_id, passes AS gate_pass
       |  FROM (${qualityFlagsSqlOver("documents", ordered = false)})) g
       |LEFT JOIN (
       |  SELECT doc_id, pred AS nb_pred FROM ($qualityClassifierSql)) nb
       |  USING (doc_id)
       |LEFT JOIN (
       |  SELECT doc_id,
       |    CAST(CASE WHEN ppl_bucket <= $EnsembleLmBucketMax
       |         THEN 1 ELSE 0 END AS INT) AS lm_ok
       |  FROM (${graft.operators.CorpusOps.unigramLogprobSql})) lm
       |  USING (doc_id)
       |ORDER BY g.doc_id""".stripMargin

  // --- C79: data selection via importance resampling (DSIR) ---------------
  /** Hashed feature space (Xie et al., NeurIPS'23 use 10k buckets; a
    * power of two keeps the modulus cheap). Bounded: every training and
    * weight table is ≤ this many rows regardless of corpus size. */
  val DsirBuckets = 8192
  /** Selected sample size for the canned query. */
  val DsirK = 150

  /** Hashed unigram+bigram feature buckets of a token array — the DSIR
    * feature map: every token and every adjacent pair hashes (md5 prefix,
    * 16 bits) into [[DsirBuckets]]. One spelling for the trainer and the
    * scorer; the oracle mirrors it with [[CorpusOps.hex4Sql]]. */
  private def dsirBucketsExpr: String =
    "transform(concat(toks, zip_with(slice(toks, 1, size(toks) - 1), " +
      "slice(toks, 2, size(toks) - 1), (a, b) -> concat(a, ' ', b))), " +
      s"f -> CAST(conv(substring(md5(f), 1, 4), 16, 10) AS BIGINT) % $DsirBuckets)"

  /** Frozen DSIR importance model: per-bucket quantized log-ratio weights
    * (≤ [[DsirBuckets]] rows, broadcast at score time) + the per-feature
    * smoothing constant — the same two-piece shape as [[NbModel]]. */
  private[graft] case class DsirModel(weights: DataFrame, perFeatQ: Long)

  /** (doc_id, seed_label, b) — one row per hashed feature occurrence.
    * Rides on [[nbFrameOf]] so the seed definition (every
    * [[NbSeedMod]]-th doc, labeled by the C15 gate's own pass bit) is
    * shared with C78 — one seed spelling for both learned selectors. */
  private[graft] def dsirFeats(frame: DataFrame): DataFrame =
    frame.select(col("doc_id"), col("seed_label"),
      explode(expr(dsirBucketsExpr)).as("b"))

  /** Fit the two hashed-n-gram unigram models DSIR compares: target =
    * gate-passing seed docs, raw = all seed docs (the bounded holdout
    * standing in for the target corpus / raw pool pair). ONE aggregation
    * over the seed's feature stream — shuffle bounded by
    * [[DsirBuckets]] — yields both count vectors; the per-bucket weight
    * is ln((ct+1)/(cr+1)) micro-nat-quantized and the add-one smoothing
    * denominators fold into one per-feature constant (buckets the seed
    * never hit contribute exactly that constant, so they need no row —
    * the NB OOV argument). */
  private[graft] def dsirTrain(feats: DataFrame): DsirModel = {
    val counts = feats.filter(col("seed_label").isNotNull)
      .groupBy(col("b"))
      .agg(sum(col("seed_label").cast("bigint")).as("ct"),
        count(lit(1)).as("cr"))
      .localCheckpoint(eager = true)
    val t = counts.agg(coalesce(sum(col("ct")), lit(0L)),
      coalesce(sum(col("cr")), lit(0L))).head()
    val (tt, tr) = (t.getLong(0), t.getLong(1))
    val weights = counts.select(col("b"),
      expr(s"CAST(floor((ln(CAST(ct + 1 AS DOUBLE)) - " +
        s"ln(CAST(cr + 1 AS DOUBLE))) * $NbQuantumSql) AS BIGINT)").as("w_q"))
    // driver constant on the same grid as the weights (math.log IS the ln
    // Spark evaluates — the NbModel discipline)
    DsirModel(weights, math.floor((math.log(tr + DsirBuckets.toDouble) -
      math.log(tt + DsirBuckets.toDouble)) * 1e6).toLong)
  }

  /** Per-doc log importance weight under a frozen model: feature stream →
    * broadcast weight join → one partially-aggregated row per doc (the
    * corpus never shuffles except that rollup). Integer micro-nats. */
  private[graft] def dsirScores(model: DsirModel, feats: DataFrame): DataFrame =
    feats.join(broadcast(model.weights), Seq("b"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("w_q"), lit(0L))).as("_wq"),
        count(lit(1)).as("nf"))
      .select(col("doc_id"), col("nf"),
        (col("_wq") + col("nf") * model.perFeatQ).as("sq"))

  /** Data Selection via Importance Resampling (Xie et al., NeurIPS'23):
    * fit hashed-n-gram unigram models over a target (gate-passing seed)
    * and the raw pool, score every document with its log importance
    * weight Σ_f [ln p̂_target(f) − ln p̂_raw(f)], and draw a k-sample
    * WITHOUT replacement ∝ the importance weights via the Gumbel-top-k
    * trick (Kool et al., ICML'19) — with the Gumbel noise derived from
    * the doc's md5 prefix (the C40 hash-uniform discipline), so the
    * "random" sample is a pure function of doc ids: reshard-stable,
    * rerun-identical, engine-identical.
    *
    * Scale shape: training statistics live on [[DsirBuckets]] buckets
    * (one bounded-shuffle agg); scoring is explode → broadcast join →
    * per-doc partial agg; selection plans as TakeOrderedAndProject
    * (bounded per-partition heaps — the corpus is never globally
    * sorted); the rank window runs over the k survivors only.
    * 2-exchange budget pinned (PlanGuardSpec; measured 1 — the per-doc
    * rollup; training exchanges are checkpoint-truncated and bounded by
    * [[DsirBuckets]] anyway).
    *
    * Parity: weights/constants are micro-nat integers (ln of
    * integer-derived doubles — the C31/C78 grid); the Gumbel key
    * −ln(−ln u) chains two lns on a u that is one IEEE division of
    * exact integers by 2^48+2 (strictly < 1, so the outer ln is finite),
    * then floors onto the same grid; key_q compares exact integers. */
  def dsirSelectOn(documents: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val feats = dsirFeats(nbFrameOf(documents, idCol, textCol))
    val scored = dsirScores(dsirTrain(feats), feats)
    val h48 = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":dsir"))), 1, 12), 16, 10).cast("long")
    val topk = scored
      .withColumn("h48", h48)
      .withColumn("_gq", expr(
        "CAST(floor(-ln(-ln(CAST(h48 + 1 AS DOUBLE) / 281474976710658.0)) " +
          s"* $NbQuantumSql) AS BIGINT)"))
      .withColumn("key_q", col("sq") + col("_gq"))
      .orderBy(col("key_q").desc, col("doc_id"))
      .limit(k)
    topk.select(col("doc_id"), col("nf").cast("int").as("n_feats"),
        (col("sq").cast("double") / expr(NbQuantumSql)).as("log_ratio"),
        col("key_q"),
        row_number().over(Window
            .partitionBy(BoundedBoard.pinnedZero(col("doc_id")))
            .orderBy(col("key_q").desc, col("doc_id")))
          .cast("int").as("rank"))
      .orderBy(col("rank"))
  }

  def dsirSelect(spark: SparkSession, dir: String): DataFrame =
    dsirSelectOn(Tables(spark, dir).documents, "doc_id", "text", DsirK)

  /** Twin: the same seed CTE (C78's spelling), hashed feature map
    * ([[CorpusOps.hex4Sql]]), one-agg count vectors, micro-nat weights
    * and constants, Gumbel keys from the same md5-derived uniform. */
  val dsirSelectSql: String = {
    val u48 = CorpusOps.hex12Sql(
      "substr(md5(CAST(doc_id AS VARCHAR) || ':dsir'), 1, 12)")
    s"""WITH fl AS (
       |  SELECT doc_id, passes
       |  FROM (${qualityFlagsSqlOver("documents", ordered = false)})
       |), d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
       |    CASE WHEN doc_id % $NbSeedMod = 0 THEN passes ELSE NULL END AS seed_label
       |  FROM documents JOIN fl USING (doc_id)
       |), fb AS (
       |  SELECT doc_id, seed_label,
       |    (${CorpusOps.hex4Sql("substr(md5(feat), 1, 4)")}) % $DsirBuckets AS b
       |  FROM (
       |    SELECT doc_id, seed_label,
       |      unnest(list_concat(toks, list_transform(range(1, len(toks)),
       |        i -> toks[i] || ' ' || toks[i + 1]))) AS feat
       |    FROM d)
       |), cnt AS (
       |  SELECT b, CAST(SUM(seed_label) AS BIGINT) AS ct, COUNT(*) AS cr
       |  FROM fb WHERE seed_label IS NOT NULL GROUP BY 1
       |), tot AS (
       |  SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS tt,
       |         CAST(COALESCE(SUM(cr), 0) AS BIGINT) AS tr
       |  FROM cnt
       |), w AS (
       |  SELECT b, CAST(floor((ln(CAST(ct + 1 AS DOUBLE)) -
       |    ln(CAST(cr + 1 AS DOUBLE))) * $NbQuantumSql) AS BIGINT) AS w_q
       |  FROM cnt
       |), kk AS (
       |  SELECT CAST(floor((ln(CAST(tr + $DsirBuckets AS DOUBLE)) -
       |    ln(CAST(tt + $DsirBuckets AS DOUBLE))) * $NbQuantumSql) AS BIGINT) AS cq
       |  FROM tot
       |), s AS (
       |  SELECT doc_id, CAST(SUM(COALESCE(w_q, 0)) AS BIGINT) AS wq,
       |         COUNT(*) AS nf
       |  FROM fb LEFT JOIN w USING (b) GROUP BY 1
       |), g AS (
       |  SELECT doc_id, nf, wq + nf * cq AS sq,
       |    CAST(floor(-ln(-ln(CAST($u48 + 1 AS DOUBLE) / 281474976710658.0))
       |      * $NbQuantumSql) AS BIGINT) AS gq
       |  FROM s CROSS JOIN kk)
       |SELECT doc_id, CAST(nf AS INT) AS n_feats,
       |  CAST(sq AS DOUBLE) / $NbQuantumSql AS log_ratio,
       |  sq + gq AS key_q,
       |  CAST(row_number() OVER (ORDER BY sq + gq DESC, doc_id) AS INT) AS rank
       |FROM g
       |QUALIFY rank <= $DsirK
       |ORDER BY rank""".stripMargin
  }

  /** Registry for SparkEntry. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quality_drift" -> (qualityDrift _),
    "chunk_documents" -> (chunkDocuments _),
    "text_pii_scrub" -> (textPiiScrub _),
    "sample_split" -> (sampleSplit _),
    "stratified_sample" -> (stratifiedSample _),
    "quality_filter_chain" -> (qualityFilterChain _),
    "ngram_topk" -> (ngramTopk _),
    "token_freq" -> (tokenFreq _),
    "dedup_clusters" -> (dedupClusters _),
    "leakage_safe_split" -> (leakageSafeSplit _),
    "dedup_clusters_stars" -> (dedupClustersStars _),
    "dedup_keep_best" -> (dedupKeepBest _),
    "curate_pipeline" -> (curatePipeline _),
    "mine_pairs" -> (minePairs _),
    "prepare_pretrain" -> (preparePretrain _),
    "quality_classifier" -> (qualityClassifier _),
    "dsir_select" -> (dsirSelect _),
    "quality_ensemble" -> (qualityEnsemble _),
    "uncertainty_sample" -> (uncertaintySample _)
  )

  val oracles: Map[String, String] = Map(
    "quality_drift" -> qualityDriftSql,
    "chunk_documents" -> chunkDocumentsSql,
    "text_pii_scrub" -> textPiiScrubSql,
    "sample_split" -> sampleSplitSql,
    "stratified_sample" -> stratifiedSampleSql,
    "quality_filter_chain" -> qualityFilterChainSql,
    "ngram_topk" -> ngramTopkSql,
    "token_freq" -> tokenFreqSql,
    "dedup_clusters" -> dedupClustersSql,
    "leakage_safe_split" -> leakageSafeSplitSql,
    "dedup_clusters_stars" -> dedupClustersSql,
    "dedup_keep_best" -> dedupKeepBestSql,
    "curate_pipeline" -> curatePipelineSql,
    "mine_pairs" -> minePairsSql,
    "prepare_pretrain" -> preparePretrainSql,
    "quality_classifier" -> qualityClassifierSql,
    "dsir_select" -> dsirSelectSql,
    "quality_ensemble" -> qualityEnsembleSql,
    "uncertainty_sample" -> uncertaintySampleSql
  )
}
