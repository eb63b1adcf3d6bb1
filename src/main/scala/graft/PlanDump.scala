package graft

/** Dev tool: write `.explain("formatted")` output for named queries to
  * files — the r16 optimization round's plan-evidence artifacts
  * (`plans/r16/<query>_<tag>.txt`).
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> <query> [<query> ...]
  *
  * NOTE for iterative operators (BFS/SSSP/LPA/k-core/beam search): eager
  * localCheckpoints truncate lineage, so the dumped plan covers the FINAL
  * segment only (the read tail after the last checkpoint); the per-round
  * plan shape is documented in OPTIMIZATION_r16.md next to the loop code.
  * Building the DataFrame RUNS the checkpointed prefix, so the dump also
  * exercises the loop.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local()
    // optional session confs (e.g. the r17 spread toggle) so a "before"
    // plan can be dumped from the shipped code: K1=V1,K2=V2
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(',').filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val nEx = plan.linesIterator.count(
          _.replaceAll("^[^A-Za-z]*", "").startsWith("Exchange"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
          (s"== $name ($tag) exchanges_in_final_segment=$nEx ==\n" + plan)
            .getBytes("UTF-8"))
        println(s"[plandump] $name -> $outDir/${name}_$tag.txt ($nEx exchanges)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
