package graft

import org.apache.spark.sql.SparkSession

/** Central place for the engine's Spark tuning.
  *
  * All scale knobs live here so the same library runs on `local[32]` test
  * boxes and on a 1000-executor cluster by changing only these confs.
  */
object GraftSession {

  /** Apply graft's standard configuration to a session builder.
    *
    * - AQE on (runtime partition coalescing + skew-join splitting) — at
    *   100 TB the static shuffle partition count is always wrong for some
    *   stage; AQE re-plans from actual map output sizes.
    * - Broadcast threshold sized so every TPC-H-style dim table
    *   (region/nation/supplier/part) broadcasts instead of shuffling.
    * - Shuffle partitions default to the local core count; on a real
    *   cluster this is overridden to ~2-3x total cores.
    */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // ObjectHashAggregate (collect_set/collect_list and every graft
      // bounded-heap aggregate: top_k_by_score, heavy hitters, medoids)
      // falls back to SORT-BASED aggregation after this many in-memory
      // keys per task — the Spark default of 128 silently turned almost
      // every heap aggregate in the engine into a full sort of its
      // input (r16 measurement). 1M keys × small buffers is well under
      // a task's execution memory at the 128 MB–1 GB partition sizes
      // this engine targets; deploys with huge per-task group counts
      // can lower it back via --conf.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 20).toString)
      // The in-memory columnar cache stores columns uncompressed: its only
      // users are the session-scoped staging views (CachedView) and Intake's
      // batch cache, all small beside the heap, and compression's encoding
      // CPU dominated their build. Persisting the sf0.1 invoice staging row
      // and draining it once (local[4], 4 vCPUs): wide 22-column row
      // compressed 4.7–7.4 s / 75.9 MB, uncompressed 2.9–3.7 s / 127.7 MB;
      // the narrow 14-column row compressed 2.7–5.2 s / 47.5 MB,
      // uncompressed 1.8–2.8 s / 74.1 MB.
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      // bucketed-table metadata (Sinks.writeBucketed) lives in the local
      // warehouse; on a cluster this is the shared metastore
      .config("spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir") + "/graft_warehouse")
      // events.parquet carries TIMESTAMP(NANOS); Spark reads it as LONG
      // nanos (Tables.events converts to a microsecond timestamp).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // naive (isAdjustedToUTC=false) parquet timestamps read as plain
      // TIMESTAMP, not TIMESTAMP_NTZ: with the session pinned to UTC the
      // micros are identical, and every consumer (unix_micros, watermarks,
      // window()) keeps the TIMESTAMP type it requires. DuckDB reads the
      // same columns as naive timestamps, so oracle date math agrees.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Local session for tests and the driver mains (`Bench`, `Verify`,
    * `PlanDump`). The core count defaults to `SPARK_GRAFT_CPUS` — the one
    * place that variable is read — and then to every available core. */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())): SparkSession = {
    val spark = tune(
      SparkSession.builder().master(s"local[$cpus]").appName("graft"),
      shufflePartitions = cpus
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release the executor-storage blocks behind a `localCheckpoint(eager)`
    * frame once it is superseded. `Dataset.unpersist` cannot do this — it
    * talks to the CacheManager, and local checkpoints live as plain RDD
    * cache blocks under the plan's `LogicalRDD` leaf — so iterative
    * chains (prefix doubling, refresh loops) walk the plan and unpersist
    * those RDDs directly. Only call on a frame with no remaining lazy
    * readers: the blocks ARE the checkpoint; an unpersisted local
    * checkpoint cannot recompute. */
  // Unpersisting a locally-checkpointed RDD logs a WARN announcing the
  // intended semantics (lineage truncated, cannot recompute) on every
  // freed round — noise that would bury real warnings in the bench tail
  // (the r12 WindowExec lesson). A genuine post-free re-read fails with
  // an exception, not a warning, so nothing detectable is lost.
  private lazy val quietCheckpointFreeLogger: Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)

  private[graft] def unpersistLocalCheckpoint(
      df: org.apache.spark.sql.DataFrame): Unit = {
    quietCheckpointFreeLogger
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }
}
