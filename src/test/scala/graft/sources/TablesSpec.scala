package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.TimestampType

class TablesSpec extends SparkSpec {

  /** Drain a file-stream replay into a memory sink with AvailableNow. */
  private def drain(stream: DataFrame, name: String): DataFrame = {
    val q = stream.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  test("the events replay equals the batch events frame, ts a TIMESTAMP") {
    val t = Tables(spark, sfDir)
    val streamed = drain(t.stream("events"), "tables_spec_events")
    val batch = t.events
    assert(streamed.schema("ts").dataType === TimestampType)
    assert(streamed.dtypes.toSeq === batch.dtypes.toSeq)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty)
    assert(batch.exceptAll(streamed).isEmpty)
  }

  test("a sentinel-shaped dir whose ts is already a TIMESTAMP passes unchanged") {
    val sdir = java.nio.file.Files.createTempDirectory("tables_spec_sentinel")
    try {
      val tsUs = 1700000000123456L
      spark.range(1)
        .select(lit(-1L).as("user_id"), timestamp_micros(lit(tsUs)).as("ts"))
        .write.mode("overwrite").parquet(sdir.toString)
      val rows = drain(Tables.stream(spark, sdir.toString),
        "tables_spec_sentinel")
      assert(rows.schema("ts").dataType === TimestampType)
      val r = rows.select(col("user_id"), unix_micros(col("ts"))).collect()
      assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq === Seq((-1L, tsUs)))
    } finally IndexScratch.deleteRec(sdir.toFile)
  }
}
