package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** The one reader for the engine's table layout: one parquet file per table
  * under a scale-factor directory, read as a batch frame or replayed as a
  * file stream. Column pruning and predicate pushdown happen at the parquet
  * scan because everything downstream stays in the declarative Column
  * algebra.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    spark.read.parquet(s"$dir/${Tables.file(name)}")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  def events: DataFrame     = Tables.timestamped(t("events"))
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Table `name` replayed as a file stream with its batch schema. The
    * schema costs one footer peek unless the caller passes the schema of a
    * batch frame of the same table that it already holds (the file's own
    * schema: not that of `events`, whose `ts` is already converted). */
  def stream(name: String, schema: Option[StructType] = None): DataFrame =
    Tables.replay(spark, dir, Tables.file(name),
      schema.getOrElse(t(name).schema), Map.empty)
}

object Tables {
  /** The file table `name` lives in under a scale-factor directory. */
  def file(name: String): String = s"$name.parquet"

  /** The parquet files under `dir` matching `glob` (every file of a
    * sentinel or scratch directory by default, or a wave directory's
    * pattern) replayed as a file stream with their batch schema, taken
    * from one footer peek. `opts` configure both the peek and the source,
    * e.g. `mergeSchema` for files that span schema versions or
    * `maxFilesPerTrigger` for one file per micro-batch. */
  def stream(spark: SparkSession, dir: String, glob: String = "*.parquet",
      opts: Map[String, String] = Map.empty): DataFrame =
    replay(spark, dir, glob, spark.read.option("pathGlobFilter", glob)
      .options(opts).parquet(dir).schema, opts)

  private def replay(spark: SparkSession, dir: String, glob: String,
      schema: StructType, opts: Map[String, String]): DataFrame =
    timestamped(spark.readStream.schema(schema)
      .option("pathGlobFilter", glob).options(opts).parquet(dir))

  /** events.parquet stores `ts` as TIMESTAMP(NANOS), which Spark reads as
    * LONG nanos (see GraftSession nanosAsLong). Convert to a microsecond
    * timestamp with integer division — floating division would lose
    * precision above 2^53 ns. Truncation matches DuckDB's ns→us cast. A
    * frame without a `ts` column, or whose `ts` is already a TIMESTAMP
    * (sentinels), passes through unchanged. */
  private def timestamped(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        // naive micros re-stamped as a UTC instant (sessions tuned by
        // GraftSession never hit this branch — inferTimestampNTZ=false
        // reads the column as TIMESTAMP directly; this covers externally
        // built sessions so `ts` always has the TIMESTAMP type watermarks
        // and unix_micros require). Micros are computed against an NTZ
        // epoch literal, NOT via cast("timestamp") — the cast interprets
        // naive time in the session zone, so a non-UTC external session
        // would shift every instant (r7 ADVICE).
        df.withColumn("ts", timestamp_micros(expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")))
      case _ => df
    }

  /** Round-robin a frame out to the session's default parallelism when
    * its plan yields fewer partitions (guide §2.5, input skew): the gate
    * corpus is single-file/single-row-group parquet, so every scan plans
    * as ONE task and any heavy per-row map/explode chain above it —
    * tokenization, shingling, gram hashing — runs on one core. At deploy
    * scale a corpus scan has ≥ parallelism splits and this is a NO-OP:
    * the guard is the actual planned partition count, never a constant.
    * Only sound above deterministic-result subtrees (round-robin moves
    * rows, never changes any keyed aggregation/join result downstream);
    * every call site in this repo feeds keyed aggregates. */
  def spreadSmallScan(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // deploy escape hatch + the A/B instrument: spread on by default
    if (!spark.conf.getOption("graft.input.spreadSmallScans")
        .forall(_.toBoolean)) return df
    val p = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}
