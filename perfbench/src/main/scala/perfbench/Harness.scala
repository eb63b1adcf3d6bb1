package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, SparkEntry}
import graft.sources.Tables

/** One fresh-JVM benchmark run: session set-up and warm-up, then a cold
  * pass and `--warm-passes` warm passes over a workload's keys, each key
  * timed as build (`SparkEntry.queries(k)(spark, dir)`, eager work
  * included), plan (forcing `executedPlan`) and drain (the `noop` write).
  * Writes `result.json` (and, traced, `trace.json`) into `--out`; run.py
  * turns them into metrics. Prints `PB READY` once set-up is done so the
  * parent can time JVM start to session ready. */
object Harness {

  private final case class Opts(
      mode: String, keys: Seq[String], data: String, out: String, seed: Long,
      warmPasses: Int, trace: Boolean, failKey: Option[String],
      stageInvoice: Boolean)

  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(
      mode = m.getOrElse("mode", "run"),
      keys = m.get("keys").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      data = m("data"), out = m("out"), seed = m.getOrElse("seed", "0").toLong,
      warmPasses = m.getOrElse("warm-passes", "2").toInt,
      trace = m.getOrElse("trace", "0") == "1",
      failKey = m.get("fail-key").filter(_.nonEmpty),
      stageInvoice = m.getOrElse("stage-invoice", "0") == "1")
  }

  /** One timed harness step. Epoch-millisecond bounds come from the same
    * clock Spark stamps jobs and stages with, so traced children nest. */
  private final case class Step(pass: Int, key: String, phase: String,
      startMs: Long, endMs: Long, wallNs: Long, error: Option[String])

  private val steps = mutable.ArrayBuffer.empty[Step]
  private val keySpans = mutable.ArrayBuffer.empty[Step]
  private val passSpans = mutable.ArrayBuffer.empty[Step]
  private val resolves = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Every Hadoop FileSystem storage counter, summed over schemes. */
  private def fsCounters: Map[String, Long] =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator.asScala
      .flatMap(_.getLongStatistics.asScala.map(l => l.getName -> l.getValue))
      .toSeq.groupMapReduce(_._1)(_._2)(_ + _)

  private def errorText(t: Throwable): String = {
    val m = Option(t.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")
    s"${t.getClass.getName}: ${m.take(400)}"
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val runId = java.util.UUID.randomUUID.toString
    val mx = java.lang.management.ManagementFactory.getRuntimeMXBean
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpus = Runtime.getRuntime.availableProcessors
    val sessionStart = System.nanoTime()

    val builder = GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]").appName("perfbench"), cpus)
    if (o.trace)
      builder
        .config("spark.sql.queryExecutionListeners", classOf[TraceQueryListener].getName)
        .config("spark.sql.streaming.streamingQueryListeners",
          classOf[TraceStreamListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    if (o.trace) sc.addSparkListener(Trace.SchedulerListener)
    val sessionEnd = System.nanoTime()
    // initializes every operator object the registry references
    val queries = SparkEntry.queries
    val registryEnd = System.nanoTime()

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // Host-load probe: a fixed computation that touches no workload table.
    def probe(): Double = {
      val t0 = System.nanoTime()
      noop(spark.range(1L << 24).selectExpr("xxhash64(id) AS h").agg(expr("bit_xor(h)")))
      (System.nanoTime() - t0) / 1e9
    }
    // Warm-up: JIT, class loading, codegen and shuffle paths, through a
    // computation that is in no workload's key list.
    probe(); probe()
    val warmupEnd = System.nanoTime()
    println("PB READY"); System.out.flush()
    // a set-up-only run ends here: its parent times it by the line above
    if (o.mode == "setup") Runtime.getRuntime.halt(0)

    val setup = Map(
      "jvm_start_epoch_ms" -> mx.getStartTime,
      "session_ms" -> (registryEnd - sessionStart) / 1e6,
      "registry_ms" -> (registryEnd - sessionEnd) / 1e6,
      "warmup_ms" -> (warmupEnd - registryEnd) / 1e6)

    def setAttr(a: Attr): Unit = {
      sc.setLocalProperty(Attr.PassProp, a.pass.toString)
      sc.setLocalProperty(Attr.KeyProp, a.key)
      sc.setLocalProperty(Attr.PhaseProp, a.phase)
      Trace.current = a
    }

    /** Run `body` as one attributed, timed step; `None` when it threw. */
    def step[T](pass: Int, key: String, phase: String)(body: => T): Option[T] = {
      val a = Attr(pass, key, phase)
      setAttr(a)
      val c0 = codegenCompiles
      val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
      val r = try Right(body) catch {
        case e: Throwable if scala.util.control.NonFatal(e) => Left(errorText(e))
      }
      val ns1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
      steps += Step(pass, key, phase, ms0, ms1, ns1 - ns0, r.left.toOption)
      if (o.trace) {
        Trace.agg(a).codegenCompiles += codegenCompiles - c0
        org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
      }
      r.toOption
    }

    val lastDf = mutable.LinkedHashMap.empty[String, DataFrame]
    def runKey(pass: Int, k: String): Unit = {
      val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
      val built = step(pass, k, "build") {
        if (o.failKey.contains(k)) {
          Thread.sleep(1500)
          throw new IllegalStateException(s"injected failure for $k")
        }
        queries(k)(spark, o.data)
      }
      val ok = built.exists { df =>
        step(pass, k, "plan")(df.queryExecution.executedPlan).isDefined && {
          if (o.trace) Trace.addTracker(df.queryExecution, Attr(pass, k, "plan"))
          step(pass, k, "drain")(noop(df)).isDefined
        }
      }
      if (ok) lastDf(k) = built.get else lastDf.remove(k)
      keySpans += Step(pass, k, "key", ms0, System.currentTimeMillis(),
        System.nanoTime() - ns0, None)
    }

    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    def resolveSources(pass: Int): Unit = tables.foreach { name =>
      val fs0 = fsCounters
      step(pass, "sources", s"resolve.$name") {
        val tb = Tables(spark, o.data)
        name match {
          case "region" => tb.region; case "nation" => tb.nation
          case "customer" => tb.customer; case "supplier" => tb.supplier
          case "part" => tb.part; case "orders" => tb.orders
          case "lineitem" => tb.lineitem; case "events" => tb.events
          case "documents" => tb.documents; case _ => tb.embeddings
        }
      }
      resolves += Map("pass" -> pass, "table" -> name,
        "resolve_ms" -> steps.last.wallNs / 1e6,
        "fs" -> fsCounters.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }
          .filter(_._2 != 0))
    }

    def loadavg: Double = osBean.getSystemLoadAverage
    val probePre = math.min(probe(), probe())
    val loadPre = loadavg
    val cpu0 = osBean.getProcessCpuTime; val wall0 = System.nanoTime()

    for (pass <- 0 to o.warmPasses) {
      val order = new scala.util.Random(o.seed * 1000003L + pass).shuffle(o.keys)
      val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
      if (o.stageInvoice) {
        // the reference service parses every CSV batch: the staging view
        // is rebuilt inside each pass, never carried over from set-up
        graft.etl.InvoiceView.invalidate(spark)
        graft.etl.Receipts.invalidate(spark)
        step(pass, "etl_stage", "stage")(noop(graft.etl.InvoiceView.inv(spark, o.data)))
      }
      order.foreach(runKey(pass, _))
      passSpans += Step(pass, "pass", "pass", ms0, System.currentTimeMillis(),
        System.nanoTime() - ns0, None)
      if (o.trace) resolveSources(pass)
    }

    // nothing after the passes belongs to their last step
    setAttr(Attr(-1, "harness", "post"))
    val passCpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
    val passWallS = (System.nanoTime() - wall0) / 1e9
    val loadPost = loadavg
    val probePost = math.min(probe(), probe())
    val peakRssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(-1L)
    // what the passes leave live: a full collection, outside every timed step
    System.gc()
    val memBean = java.lang.management.ManagementFactory.getMemoryMXBean
    val liveHeap = memBean.getHeapMemoryUsage.getUsed
    val nonHeap = memBean.getNonHeapMemoryUsage.getUsed

    // The oracle compares the frames measured in the last pass.
    val resultErrors: Seq[Map[String, Any]] = {
      // Written concurrently: this is after every timed pass, and the
      // keys' jobs leave most local cores idle.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
      val writes = lastDf.toSeq.map { case (k, df) =>
        pool.submit(new java.util.concurrent.Callable[Option[String]] {
          def call(): Option[String] =
            try {
              // pool threads inherit the creating thread's properties
              sc.setLocalProperty(Attr.KeyProp, k)
              sc.setLocalProperty(Attr.PhaseProp, "result")
              df.coalesce(1).write.mode("overwrite").parquet(s"${o.out}/results/$k")
              None
            } catch {
              case e: Throwable if scala.util.control.NonFatal(e) => Some(errorText(e))
            }
        })
      }
      val errors = lastDf.keys.zip(writes.map(_.get)).collect {
        case (k, Some(err)) => Map("key" -> k, "error" -> err)
      }.toSeq
      pool.shutdown()
      Json.write(s"${o.out}/results/oracle_sql.json",
        o.keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap)
      errors
    }

    def stepMap(s: Step): Map[String, Any] = Map("pass" -> s.pass, "key" -> s.key,
      "phase" -> s.phase, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "wall_ms" -> s.wallNs / 1e6) ++ s.error.map("error" -> _)
    if (o.trace) {
      org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
      Json.write(s"${o.out}/trace.json", Map(
        "run_id" -> runId,
        "passes" -> passSpans.map(stepMap), "keys" -> keySpans.map(stepMap),
        "steps" -> steps.map(stepMap), "resolves" -> resolves,
        "jobs" -> Trace.jobs.map(j => Map("id" -> j.id, "pass" -> j.attr.pass,
          "key" -> j.attr.key, "phase" -> j.attr.phase,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs)),
        "stages" -> Trace.stages.map(s => Map("id" -> s.id, "attempt" -> s.attempt,
          "job" -> s.jobId, "pass" -> s.attr.pass, "key" -> s.attr.key,
          "phase" -> s.attr.phase, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "tasks" -> s.tasks)),
        "layers" -> Trace.snapshot.map { case (a, g) =>
          Map("pass" -> a.pass, "key" -> a.key, "phase" -> a.phase) ++ g.toMap }))
    }

    Json.write(s"${o.out}/result.json", Map(
      "run_id" -> runId, "setup" -> setup, "cpus" -> cpus,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "keys" -> o.keys, "seed" -> o.seed, "warm_passes" -> o.warmPasses,
      "passes" -> passSpans.map(stepMap), "key_spans" -> keySpans.map(stepMap),
      "steps" -> steps.map(stepMap),
      "load" -> Map("probe_pre_s" -> probePre, "probe_post_s" -> probePost,
        "loadavg_pre" -> loadPre, "loadavg_post" -> loadPost,
        "pass_cpu_s" -> passCpuS, "pass_wall_s" -> passWallS),
      "peak_rss_kb" -> peakRssKb, "live_heap_bytes" -> liveHeap, "nonheap_bytes" -> nonHeap,
      "result_errors" -> resultErrors))
    System.out.flush()
    // every timed pass, result and record is written; skip the orderly
    // context shutdown, which only costs the parent wall time
    Runtime.getRuntime.halt(0)
  }
}

/** Minimal JSON output through the Jackson Scala module Spark ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, mapper.writeValueAsString(v))
  }
}
