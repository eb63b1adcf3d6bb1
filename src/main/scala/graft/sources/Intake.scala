package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2 A12/A13: the reference's intake surface re-expressed as Spark
  * sources (reference: intake/handlers.py + stream/util.py:_read_csv_from_bytes
  * + main.py list-pending).
  *
  * Both are rows-only for the driver (filesystem-shaped, not SQL) and are
  * pinned by IntakeSpec.
  */
object Intake {

  /** Raw-CSV schema after header normalization, plus the PERMISSIVE-mode
    * corrupt-record column. */
  val csvSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("n_chars", LongType),
    StructField("_corrupt", StringType)))

  /** Stage a deterministic vendor-CSV batch (derived from the documents
    * table + known-malformed lines) under the JVM temp dir, once per sf. */
  def stageCsv(spark: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val path = Paths.get(sys.props("java.io.tmpdir"), s"graft_intake_$tag.csv")
    if (!Files.exists(path)) {
      val docs = Tables(spark, dir).documents
        .select("doc_id", "text", "n_chars")
        .orderBy("doc_id").limit(100).collect()
      val sb = new StringBuilder("Doc Id,Text Content,N Chars\n")
      docs.foreach { r =>
        sb.append(r.getLong(0)).append(",\"").append(r.getString(1))
          .append("\",").append(r.getLong(2)).append('\n')
      }
      // malformed rows the PERMISSIVE reader must survive:
      sb.append("not-a-number,\"plain text\",12\n") // bad doc_id
      sb.append("9999,\"unterminated quote,77\n")   // broken quoting
      sb.append("10000\n")                          // missing columns
      Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    path.toString
  }

  /** A12: tolerant CSV read — PERMISSIVE mode, corrupt-record capture, and
    * reference-style header normalization (lower-case, underscores). */
  def csvIntake(spark: SparkSession, dir: String): DataFrame = {
    val path = stageCsv(spark, dir)
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(csvSchema)
      .csv(path)
      // Materialize the parse: Spark refuses plans that prune down to only
      // the corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and an
      // intake batch is small by construction (one email attachment).
      .cache()
      .select(col("doc_id"), col("text"), col("n_chars"),
        col("_corrupt").isNotNull.as("is_corrupt"))
      .orderBy(col("doc_id").asc_nulls_last, col("text"))
  }

  /** A13: pending-intake listing — the catalog view of the landing zone,
    * with the reference's deterministic intake naming
    * (intake/{date}_{id}_{name}; the id is content-derived, not wall-clock).
    */
  def intakeListing(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new Path(dir)).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).sorted
    import spark.implicits._
    names.toDF("file_name")
      .select(col("file_name"),
        concat_ws("_", lit("intake/2024-01-01"),
          substring(md5(col("file_name")), 1, 12), col("file_name"))
          .as("intake_name"))
      .orderBy(col("file_name"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "csv_intake" -> (csvIntake _),
    "intake_listing" -> (intakeListing _)
  )
}
